"""InfluxQL front-end: the statement surface of the reference's /query
endpoint (SURVEY.md §2.11, §3.2-3.3), compiled to DataFrame plans.

The reference dispatches on string prefixes (cflux.js:395-852) and
builds ClickHouse SQL by concatenation; we parse the same grammar
subset into small statement objects and build DataFrame plans — the
logical/physical planning the reference lacks comes from Catalyst.

Supported statements (reference citation → our handler):

- SHOW DATABASES                       (cflux.js:659)   → catalog
- SHOW MEASUREMENTS                    (cflux.js:637)   → registry distinct
- SHOW FIELD KEYS [FROM m]             (cflux.js:450)   → registry distinct
- SHOW TAG KEYS [FROM m]               (cflux.js:497)   → map_keys explode
- SHOW TAG VALUES [FROM m] WITH KEY [IN] (cflux.js:543,591) → entries explode
- SHOW RETENTION POLICIES              (cflux.js:419)   → static row
- SHOW SUBSCRIPTIONS                   (cflux.js:835)   → control table
- CREATE DATABASE db                   (cflux.js:395)   → store init
- CREATE SUBSCRIPTION ... DESTINATIONS (cflux.js:676)   → control table
- SELECT f1[, f2] | agg(f) FROM [db.[rp.]]m | /regex/
    [WHERE time <op> …  [AND tag='v']… [AND field <op> number|bool]…]
    [GROUP BY time(Nu) | <tag>,… | *] [FILL(...)] [ORDER BY time DESC]
    [LIMIT n] [OFFSET n] [SLIMIT n] [SOFFSET n]
    [tz('Area/City')]                        (cflux.js:687-833)
- SELECT agg(col) FROM (SELECT agg(f) FROM m ...) [GROUP BY ...]
    — InfluxDB 1.2+ subqueries (beyond the reference), one level
- multiple ;-separated statements → one results[] per statement

Deviations from the reference, on purpose (SURVEY §2.2/2.4/2.6):
GROUP BY time(N) is honored (the reference strips it and hard-codes
1-minute buckets); LIMIT is honored (the reference deletes it); the
ISO-timestamp 5-minute floor bug is not copied; aggregates beyond
mean are available (sum/min/max/count/median/stddev/first/last/
percentile/spread/mode/count(distinct())/integral) plus the selector
functions top/bottom, the point transforms distinct/elapsed, the
InfluxQL transform functions derivative/non_negative_derivative/
moving_average/cumulative_sum over an inner aggregate (e.g.
``derivative(mean(f), 1s)``) AND over raw points per series
(``derivative(f)`` — the Grafana rate-panel shape, round 4),
GROUP BY time(N, offset) shifted
buckets, and tz('Area/City') local-wall-clock buckets (DST-aware;
Grafana emits it for non-UTC dashboards).
"""

from __future__ import annotations

import re
import threading
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from functools import reduce, wraps
from itertools import islice

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cflux_spark.functions.scalars import matcher_cond
from cflux_spark.operators import metadata as _md
from cflux_spark.operators import pivot as pivot_ops
from cflux_spark.sources.ingest import LPStore, validate_db_name
from cflux_spark.sources.series_index import ABOVE_CAP, SeriesIndex

_DUR_UNITS = {"ns": 1e-9, "u": 1e-6, "µ": 1e-6, "ms": 1e-3, "s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}

_AGG_FNS = {
    "mean": lambda c, a: F.avg(c),
    "sum": lambda c, a: F.sum(c),
    "min": lambda c, a: F.min(c),
    "max": lambda c, a: F.max(c),
    "count": lambda c, a: F.count(c),
    "median": lambda c, a: F.expr(f"percentile({c}, 0.5)"),
    "stddev": lambda c, a: F.stddev_samp(c),
    # first/last resolve through _agg_expr (time-ordered; need the
    # frame's time column). Present here so grammar validation sees
    # them as known aggregates.
    "first": None,
    "last": None,
    # InfluxQL percentile(f, N) takes N in 0-100 — NEAREST-RANK like
    # InfluxDB (index floor(n·p+0.5), 1-based; < 1 → nil), NOT the
    # interpolated percentile Spark/DuckDB default to (round 7: the
    # interpolated form returned values no actual point carries).
    # The three collect_list occurrences dedup to ONE aggregation
    # buffer at the physical layer (identical AggregateExpressions);
    # buffers are (series, bucket)-group sized, the same footprint
    # Spark's own percentile aggregate keeps. median() stays
    # interpolated: InfluxDB's median averages the two middle values
    # at even counts, which IS percentile-0.5 interpolation.
    "percentile": lambda c, a: F.expr(
        "CASE WHEN cast(floor(size(collect_list({c})) * {p} + 0.5) as int) >= 1 "
        "THEN element_at(array_sort(collect_list({c})), "
        "cast(floor(size(collect_list({c})) * {p} + 0.5) as int)) END".format(
            c=c, p=(a if a is not None else 50) / 100.0
        )
    ),
    "spread": lambda c, a: F.max(c) - F.min(c),
    "mode": lambda c, a: F.mode(c),
    # count(distinct(f)) — InfluxQL's only nested-aggregate form
    "count_distinct": lambda c, a: F.countDistinct(c),
}

def _agg_expr(fn: str, c: str, a, ts_col: str = "ts_ns"):
    """Aggregate expression for `fn` over column `c`. first/last are
    TIME-ordered in InfluxQL — min_by/max_by on the frame's time column
    (`ts_ns` raw facts, `ts_ms` bucketed subquery output), NOT Spark's
    order-of-encounter first()/last(), which are nondeterministic over
    an unordered groupBy."""
    if fn == "first":
        return F.expr(f"min_by({c}, {ts_col})")
    if fn == "last":
        return F.expr(f"max_by({c}, {ts_col})")
    return _AGG_FNS[fn](c, a)


# selector functions keep the point's own timestamp (InfluxQL top/
# bottom/sample return actual points, not a folded aggregate).
# sample(f, N) deviates from InfluxDB deliberately: picks are
# DETERMINISTIC (md5 of the point identity — the hash_sample
# discipline from extensions/sampling.py) instead of random, so
# results are reproducible and repartition-stable.
_SEL_FNS = {"top", "bottom", "sample"}

# envelope column names where the internal fn name differs
_DISPLAY = {"count_distinct": "count"}

# InfluxQL transform functions over an aggregated series:
# derivative(mean(f), 1s), moving_average(mean(f), n),
# cumulative_sum(sum(f)), difference(max(f)) — applied per output
# series after bucketing/fill, as InfluxDB does.
_TX_FNS = {
    "derivative",
    "non_negative_derivative",
    "difference",
    "non_negative_difference",
    "moving_average",
    "cumulative_sum",
}

# InfluxQL technical-analysis transforms (round 7) — per-series
# recurrences/rolling windows implemented by operators/ta.py on the
# segmented linear-recurrence scan. The reference engine answers none
# of these (cflux.js has no transform functions at all).
from cflux_spark.operators.ta import TA_FNS as _TA_FNS  # noqa: E402

# InfluxQL predictive functions (round 7) — per-series Holt-Winters
# fit + forecast over bucketed aggregates (operators/forecast.py)
from cflux_spark.operators.forecast import FORECAST_FNS as _FORECAST_FNS  # noqa: E402

# EMA-family functions accept an optional quoted warmup type
_TA_WARMUP_FNS = {
    "exponential_moving_average",
    "double_exponential_moving_average",
    "triple_exponential_moving_average",
    "triple_exponential_derivative",
}


def _parse_ta_args(fn: str, argstr: str | None, raw: str) -> tuple[int, str | None]:
    """Parse the argument tail of a TA function: period N, then an
    optional quoted warmup type (EMA family only). A numeric third
    argument is InfluxDB's HOLD_PERIOD — rejected loudly rather than
    half-supported."""
    if not argstr:
        raise InfluxQLError(f"{fn}(field, N) requires a period: {raw!r}")
    parts = [a.strip() for a in argstr.split(",")]
    if not re.fullmatch(r"\d+", parts[0]):
        raise InfluxQLError(f"{fn}(field, N) requires an integer period: {raw!r}")
    n = int(parts[0])
    if n < 1:
        raise InfluxQLError(f"{fn} period must be >= 1: {raw!r}")
    warmup: str | None = None
    for extra in parts[1:]:
        qm = re.fullmatch(r"'([^']*)'|\"([^\"]*)\"", extra)
        if qm:
            w = (qm.group(1) or qm.group(2)).lower()
            if fn not in _TA_WARMUP_FNS:
                raise InfluxQLError(f"{fn} does not take a warmup type: {raw!r}")
            if w not in ("exponential", "simple"):
                raise InfluxQLError(
                    f"unsupported warmup type {w!r} (exponential|simple): {raw!r}"
                )
            warmup = w
        elif re.fullmatch(r"-?\d+", extra):
            raise InfluxQLError(f"{fn}: HOLD_PERIOD is not supported: {raw!r}")
        else:
            raise InfluxQLError(f"bad argument {extra!r} in {raw!r}")
    return n, warmup

# InfluxQL math scalar functions — pointwise over a raw field
# (``SELECT abs(v) FROM m``) or over an aggregate
# (``SELECT round(mean(v)) FROM m GROUP BY time(1m)``). All JVM
# built-ins inside whole-stage codegen; the optional second argument
# is round's decimals, log's base, or pow's exponent.
_MATH_FNS: dict[str, object] = {
    "abs": lambda c, a: F.abs(c),
    "ceil": lambda c, a: F.ceil(c),
    "floor": lambda c, a: F.floor(c),
    "round": lambda c, a: F.round(c, int(a) if a is not None else 0),
    "sqrt": lambda c, a: F.sqrt(c),
    "exp": lambda c, a: F.exp(c),
    "ln": lambda c, a: F.log(c),
    "log": lambda c, a: F.log(float(a), c) if a is not None else F.log(c),
    "log2": lambda c, a: F.log2(c),
    "log10": lambda c, a: F.log10(c),
    "sin": lambda c, a: F.sin(c),
    "cos": lambda c, a: F.cos(c),
    "tan": lambda c, a: F.tan(c),
    "asin": lambda c, a: F.asin(c),
    "acos": lambda c, a: F.acos(c),
    "atan": lambda c, a: F.atan(c),
    "pow": lambda c, a: F.pow(c, float(a) if a is not None else 1.0),
}


class InfluxQLError(ValueError):
    """Raised for statements outside the supported grammar — loudly,
    per SURVEY §7 ('keep grammar minimal, reject loudly')."""


from typing import NamedTuple


class FieldSpec(NamedTuple):
    """One SELECT expression: ``[tx(]agg(name[, agg_arg])[, tx_arg)] [AS alias]``."""

    agg: str | None  # aggregate fn name, None = raw field
    name: str  # field name
    agg_arg: float | None = None  # percentile N
    tx: str | None = None  # transform fn wrapping the aggregate
    tx_arg: float | None = None  # derivative unit (s) | moving_average n
    alias: str | None = None  # AS name — overrides the output column name
    #: binary-arithmetic AST for SELECT expressions like
    #: ``max(v) - min(v)`` or ``user * 100`` (round 5); when set, the
    #: other fields describe only the display name
    expr: tuple | None = None
    #: ``host::tag`` — a tag selected as a per-point column (round 5);
    #: legal only alongside raw fields
    tag: bool = False
    #: EMA-family warmup type (round 7 TA functions): 'exponential'
    #: (InfluxDB default) or 'simple'
    tx_warmup: str | None = None
    #: second transform argument (round 7): HOLT_WINTERS seasonal
    #: pattern length S in holt_winters(agg(f), N, S)
    tx_arg2: float | None = None


def _has_top_level_arith(s: str) -> bool:
    """True when ``s`` contains a binary + - * / outside parens and
    quotes — the trigger for SELECT-expression arithmetic (round 5:
    ``max(v) - min(v)``, ``mean(v) * 100``, ``user + sys``)."""
    depth = 0
    quote: str | None = None
    prev_operand = False
    for c in s:
        if quote:
            if c == quote:
                quote = None
                prev_operand = True
            continue
        if c in "'\"":
            quote = c
        elif c == "(":
            depth += 1
            prev_operand = False
        elif c == ")":
            depth -= 1
            prev_operand = True
        elif depth == 0 and c in "+-*/":
            if prev_operand:  # binary, not a leading unary minus
                return True
            prev_operand = False
        elif not c.isspace():
            prev_operand = True
    return False


def _tokenize_arith(s: str) -> list:
    tokens: list = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c.isspace():
            i += 1
            continue
        if c in "()+-*/":
            tokens.append(c)
            i += 1
            continue
        if c == '"':
            j = s.find('"', i + 1)
            if j < 0:
                raise InfluxQLError(f"unterminated identifier in {s!r}")
            tokens.append(("ident", s[i + 1 : j]))
            i = j + 1
            continue
        mnum = re.match(r"\d+(\.\d+)?", s[i:])
        if mnum:
            tokens.append(("num", float(mnum.group(0))))
            i += mnum.end()
            continue
        mid = re.match(r"\w+", s[i:])
        if mid:
            name = mid.group(0)
            i += mid.end()
            j = i
            while j < n and s[j].isspace():
                j += 1
            if j < n and s[j] == "(":
                depth = 0
                k = j
                while k < n:
                    if s[k] == "(":
                        depth += 1
                    elif s[k] == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    k += 1
                if depth != 0:
                    raise InfluxQLError(f"unbalanced parens in {s!r}")
                tokens.append(("call", name.lower(), s[j + 1 : k].strip()))
                i = k + 1
            else:
                tokens.append(("ident", name))
            continue
        raise InfluxQLError(f"unsupported SELECT expression {s!r}")
    return tokens


def _parse_arith(s: str) -> tuple:
    """Recursive-descent parse of a SELECT arithmetic expression into
    an AST of ('num', x) | ('field', name) | ('agg', fn, field, arg) |
    ('neg', node) | ('op', op, left, right). Function leaves must be
    plain aggregates — transforms/selectors inside arithmetic are out
    of grammar and reject loudly."""
    tokens = _tokenize_arith(s)
    pos = [0]

    def peek():
        return tokens[pos[0]] if pos[0] < len(tokens) else None

    def eat():
        t = tokens[pos[0]]
        pos[0] += 1
        return t

    def factor() -> tuple:
        t = peek()
        if t is None:
            raise InfluxQLError(f"truncated SELECT expression {s!r}")
        if t == "-":
            eat()
            return ("neg", factor())
        if t == "(":
            eat()
            node = expr()
            if peek() != ")":
                raise InfluxQLError(f"unbalanced parens in {s!r}")
            eat()
            return node
        if isinstance(t, tuple):
            eat()
            if t[0] == "num":
                return ("num", t[1])
            if t[0] == "ident":
                return ("field", t[1])
            if t[0] == "call":
                fn, argstr = t[1], t[2]
                if fn not in _AGG_FNS:
                    raise InfluxQLError(
                        f"only plain aggregates may appear in SELECT arithmetic, "
                        f"got {fn!r} in {s!r}"
                    )
                args = [a.strip() for a in argstr.split(",")] if argstr else []
                if not args or not args[0]:
                    raise InfluxQLError(f"missing field in {fn}() in {s!r}")
                arg = float(args[1]) if len(args) > 1 else None
                return ("agg", fn, _unquote(args[0]), arg)
        raise InfluxQLError(f"unsupported SELECT expression {s!r}")

    def term() -> tuple:
        node = factor()
        while peek() in ("*", "/"):
            op = eat()
            node = ("op", op, node, factor())
        return node

    def expr() -> tuple:
        node = term()
        while peek() in ("+", "-"):
            op = eat()
            node = ("op", op, node, term())
        return node

    node = expr()
    if pos[0] != len(tokens):
        raise InfluxQLError(f"unsupported SELECT expression {s!r}")
    return node


def _arith_leaves(node: tuple, kind: str) -> list:
    """Collect ('agg', ...) or ('field', ...) leaves in source order."""
    if node[0] == kind:
        return [node]
    if node[0] == "neg":
        return _arith_leaves(node[1], kind)
    if node[0] == "op":
        return _arith_leaves(node[2], kind) + _arith_leaves(node[3], kind)
    return []


def _parens_balanced(s: str) -> bool:
    depth = 0
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0


@dataclass
class _Where:
    """A WHERE clause as ``_parse_where`` reads it, for every statement
    that has one (SELECT, SHOW, DELETE, DROP SERIES)."""

    time_lo_ns: int | None = None  # canonical half-open [lo, hi) in ns
    time_hi_ns: int | None = None
    relative_s: int | None = None  # lower bound: ts > now() - relative_s
    relative_lo_inclusive: bool = False
    relative_hi_s: int | None = None  # upper bound: ts < now() - relative_hi_s
    relative_hi_inclusive: bool = False
    #: a now()-relative bound was read, the no-op ``time < now()`` too
    relative: bool = False
    tag_filters: list[tuple[str, str, str]] = field(default_factory=list)  # (key, op, value)
    #: OR groups, each ANDed with the rest of the WHERE clause:
    #: tag_or_groups — [[(key, op, value), ...], ...] of tag matchers;
    #: field_or_groups — same shape over field-value predicates
    tag_or_groups: list[list[tuple[str, str, str]]] = field(default_factory=list)
    field_or_groups: list[list[tuple]] = field(default_factory=list)
    #: WHERE field-value predicates: (field, op, value) with value a
    #: float (numeric compare) or bool ("b = true" on boolean fields)
    field_filters: list[tuple] = field(default_factory=list)


@dataclass(kw_only=True)
class SelectStmt(_Where):
    fields: list[FieldSpec]
    measurement: str
    db: str | None = None
    measurement_regex: str | None = None  # FROM /re/ — one series set per match
    group_by_star: bool = False  # GROUP BY * — all tag keys of the measurement
    slimit: int | None = None  # series-level LIMIT/OFFSET (InfluxQL SLIMIT/SOFFSET)
    soffset: int | None = None
    #: two-part FROM prefix ("x"."m") pending rp-vs-db resolution at
    #: execute time (the parser has no retention-policy registry)
    from_prefix: str | None = None
    group_by_time_s: float | None = None  # fractional = sub-second intervals
    group_by_tags: list[str] = field(default_factory=list)
    group_by_time_offset_s: float = 0.0  # GROUP BY time(N, offset)
    tz: str | None = None  # tz('Area/City') — local-wall-clock buckets
    fill: str | None = None  # none|null|previous|<number>
    order_desc: bool = False
    limit: int | None = None
    offset: int | None = None
    subquery: "SelectStmt | None" = None  # FROM (SELECT ...) — InfluxDB 1.2+
    into: str | None = None  # SELECT ... INTO <m> — downsample materialization
    #: three-part INTO prefix ("db"."rp".m) — cross-db target for the
    #: :MEASUREMENT backreference (round 6); None = session db
    into_db: str | None = None


def _unquote(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == s[-1] and s[0] in "\"'`":
        return s[1:-1]
    return s


def _split_outside_quotes(s: str, sep: str) -> list[str]:
    """Split on ``sep`` only where it is not inside a double-quoted
    identifier — ``FROM "a,b", "c.d".m`` must not split inside the
    quotes the way a naive ``str.split`` does."""
    out: list[str] = []
    buf: list[str] = []
    in_quote = False
    for ch in s:
        if ch == '"':
            in_quote = not in_quote
            buf.append(ch)
        elif ch == sep and not in_quote:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    out.append("".join(buf))
    return out


def _split_on_word(cond: str, word: str, slash_regex: bool = False) -> list[str]:
    """Split on a top-level keyword (case-insensitive) outside
    single/double quotes and parentheses — ``("host" = 'a' OR
    "host" = 'b OR c')`` must split once, not twice.

    ``slash_regex=True`` additionally treats ``/.../`` spans as opaque
    (round-7 ADVICE: ``SHOW FIELD KEYS FROM /on/`` carved the regex
    body as an ON clause). Opt-in only for the SHOW family, where a
    slash can only ever delimit a regex — in SELECT/WHERE text ``/``
    is also division, and pairing slashes there would swallow real
    keywords between two divisions."""
    out: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    depth = 0
    i, n = 0, len(cond)
    while i < n:
        c = cond[i]
        if quote:
            buf.append(c)
            if c == quote:
                quote = None
            i += 1
            continue
        if c in "'\"":
            quote = c
            buf.append(c)
            i += 1
            continue
        if slash_regex and c == "/":
            j = i + 1
            while j < n and (cond[j] != "/" or cond[j - 1] == "\\"):
                j += 1
            if j < n:  # closing slash found: copy the span opaque
                buf.append(cond[i : j + 1])
                i = j + 1
                continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        wl = len(word)
        if (
            depth == 0
            and cond[i : i + wl].upper() == word
            and (i == 0 or not (cond[i - 1].isalnum() or cond[i - 1] in '_"'))
            and (i + wl >= n or not (cond[i + wl].isalnum() or cond[i + wl] in '_"'))
        ):
            out.append("".join(buf))
            buf = []
            i += wl
            continue
        buf.append(c)
        i += 1
    out.append("".join(buf))
    return out


def _split_on_or(cond: str) -> list[str]:
    return _split_on_word(cond, "OR")


def _split_on_and(cond: str) -> list[str]:
    return _split_on_word(cond, "AND")


_FIELD_PRED_RX = re.compile(
    r"([\w\"]+)\s*(>=|<=|>|<|!=|=)\s*(-?\d+(?:\.\d+)?|true|false)", re.IGNORECASE
)


def _parse_field_pred(cond: str) -> tuple | None:
    """``v > 0.5`` / ``b = true`` → (field, op, value) or None.
    InfluxQL's quoting rule: a bare numeric/boolean RHS is a FIELD
    comparison (tags are always quoted strings)."""
    fv = _FIELD_PRED_RX.fullmatch(cond)
    if not fv:
        return None
    name, op, raw_val = _unquote(fv.group(1)), fv.group(2), fv.group(3)
    if raw_val.lower() in ("true", "false"):
        if op not in ("=", "!="):
            raise InfluxQLError(f"boolean field supports only =/!=: {cond!r}")
        return (name, op, raw_val.lower() == "true")
    return (name, op, float(raw_val))


class _ShowClauses(NamedTuple):
    """Quote-aware decomposition of a SHOW statement's tail:
    ``SHOW ... [FROM m] [WITH ...] [WHERE ...] [LIMIT n] [OFFSET n]``.
    Round-5's bare ``re.search`` over the whole statement truncated
    matchers on quoted values containing ' LIMIT 5' and misparsed
    ``WITH MEASUREMENT = "name with spaces"`` via ``(\\S+)`` (round-6
    ADVICE); this tokenizes with the same quote/paren-aware splitter
    the SELECT grammar uses."""

    head: str  # verb + FROM/WITH clauses, ON/WHERE/LIMIT/OFFSET stripped
    where: str | None  # raw WHERE condition text (quotes intact)
    limit: int | None
    offset: int | None
    #: ``SHOW ... ON <db>`` — overrides the session database (round 6:
    #: previously ignored silently, answering from the WRONG database)
    on_db: str | None = None

    @property
    def from_name(self) -> str | None:
        parts = _split_on_word(self.head, "WITH", slash_regex=True)
        m = re.search(r"\bFROM\s+(.+)$", parts[0], re.IGNORECASE | re.DOTALL)
        if not m:
            return None
        raw = m.group(1).strip()
        if len(raw) >= 2 and raw.startswith("/") and raw.endswith("/"):
            return raw  # FROM /regex/ — must not be dot-split
        segs = _split_outside_quotes(raw, ".")
        return _unquote(segs[-1])

    def with_clause(self, kind: str) -> str | None:
        """Raw text after ``WITH MEASUREMENT``/``WITH KEY`` (quotes
        intact, runs to end of head — WHERE/LIMIT/OFFSET are already
        stripped, so spaces in quoted names survive)."""
        parts = _split_on_word(self.head, "WITH", slash_regex=True)
        if len(parts) == 1:
            return None
        if len(parts) > 2:
            raise InfluxQLError(f"multiple WITH clauses: {self.head!r}")
        body = parts[1].strip()
        m = re.match(rf"{kind}\b\s*(.*)$", body, re.IGNORECASE | re.DOTALL)
        if not m:
            raise InfluxQLError(f"expected WITH {kind} ..., got WITH {body!r}")
        return m.group(1).strip()


def _parse_show(qs: str) -> _ShowClauses:
    def _carve_int(rest: str, word: str) -> tuple[str, int | None]:
        parts = _split_on_word(rest, word, slash_regex=True)
        if len(parts) == 1:
            return rest, None
        if len(parts) > 2:
            raise InfluxQLError(f"multiple {word} clauses: {qs!r}")
        m = re.fullmatch(r"\s*(\d+)\s*", parts[1])
        if not m:
            raise InfluxQLError(f"{word} requires a bare integer: {parts[1]!r}")
        return parts[0], int(m.group(1))

    rest, offset = _carve_int(qs, "OFFSET")
    rest, limit = _carve_int(rest, "LIMIT")
    parts = _split_on_word(rest, "WHERE", slash_regex=True)
    if len(parts) > 2:
        raise InfluxQLError(f"multiple WHERE clauses: {qs!r}")
    where = parts[1].strip() if len(parts) == 2 else None
    head = parts[0].strip()
    on_db = None
    on_parts = _split_on_word(head, "ON", slash_regex=True)
    if len(on_parts) > 2:
        raise InfluxQLError(f"multiple ON clauses: {qs!r}")
    if len(on_parts) == 2:
        m = re.match(r'\s*("[^"]+"|\S+)\s*(.*)$', on_parts[1], re.DOTALL)
        if not m or not m.group(1):
            raise InfluxQLError(f"ON requires a database name: {qs!r}")
        on_db = _unquote(m.group(1))
        head = (on_parts[0].rstrip() + " " + m.group(2).strip()).strip()
    return _ShowClauses(head, where, limit, offset, on_db)


def _slice_values(vals: list, limit: int | None, offset: int | None) -> list:
    """LIMIT/OFFSET over a SHOW result's value rows (metadata-sized —
    driver-side slicing is the right altitude; InfluxDB applies them
    per series for the tag-key/value families)."""
    if offset:
        vals = vals[offset:]
    if limit is not None:
        vals = vals[:limit]
    return vals


#: one literal: a quoted string, a /regex/ (``\/`` escapes a slash)
#: or a bare token
_TAG_RHS_RX = re.compile(r"'[^']*'|\"[^\"]*\"|/(?:[^/\\]|\\.)*/|[^\s'\"()/]+")


def _parse_tag_matcher(cond: str) -> tuple[str, str, str] | None:
    """``"host" = 'a'`` / ``host =~ /web.*/`` → (key, op, value), or
    None unless the right-hand side is exactly one literal (so
    ``host = 'a' OR host = 'b'`` is not one matcher whose value runs to
    the end); the four matcher ops are the labelParser table
    (cflux.js:140-148)."""
    gm = re.fullmatch(r"([\w\"']+)\s*(=~|!~|!=|=)\s*(.+)", cond)
    if not gm or not _TAG_RHS_RX.fullmatch(gm.group(3).strip()):
        return None
    key, op, rhs = _unquote(gm.group(1)), gm.group(2), gm.group(3).strip()
    if op in ("=~", "!~"):
        # InfluxQL's regex RHS is /slash-delimited/ (unanchored, like
        # rlike); the engine also keeps its original quoted form
        # ('e.*'). Passing slashes through to rlike would silently
        # match nothing; a bare RHS is rejected.
        if len(rhs) >= 2 and rhs.startswith("/") and rhs.endswith("/"):
            val = rhs[1:-1]
        elif len(rhs) >= 2 and rhs[0] == rhs[-1] and rhs[0] in "'\"":
            val = _unquote(rhs)
        else:
            raise InfluxQLError(f"{op} requires a /regex/ or quoted RHS: {cond!r}")
    else:
        val = _unquote(rhs)
    return (key, op, val)


def _parse_duration(s: str) -> float:
    m = re.fullmatch(r"(\d+(?:\.\d+)?)(ns|u|µ|ms|s|m|h|d|w)", s.strip())
    if not m:
        raise InfluxQLError(f"bad duration {s!r}")
    return float(m.group(1)) * _DUR_UNITS[m.group(2)]


def _parse_time_value(v: str) -> int:
    """A time literal → epoch ns. Accepts bare integers (ns, the
    reference's TSDIVIDE convention, cflux.js:10,712) and ISO strings."""
    v = v.strip()
    if re.fullmatch(r"\d+", v):
        return int(v)
    iso = _unquote(v)
    from datetime import datetime, timezone

    txt = iso.replace("T", " ").replace("Z", "")
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            dt = datetime.strptime(txt, fmt).replace(tzinfo=timezone.utc)
            return int(dt.timestamp() * 1e9)
        except ValueError:
            continue
    raise InfluxQLError(f"bad time literal {v!r}")


def _parse_where(text: str) -> _Where:
    """The one WHERE grammar, for SELECT, SHOW, DELETE and DROP SERIES:
    time bounds, tag matchers and field predicates ANDed, each side of
    an AND optionally a parenthesized group or a homogeneous OR group.
    Each statement rejects what its own grammar excludes."""
    w = _Where()
    # paren-aware AND split: "(a AND b) AND c" first yields the group
    # and c; a group that unwraps to contain more top-level ANDs is
    # re-split (worklist), so "(host = 'a' AND region = 'eu')" parses
    # instead of shredding at the inner AND (round 5)
    work = [c.strip() for c in _split_on_and(text)]
    while work:
        cond = work.pop(0)
        # Grafana wraps template conditions in parens: ("host" =~ /^a$/)
        stripped = False
        while (
            cond.startswith("(")
            and cond.endswith(")")
            and _parens_balanced(cond[1:-1])
        ):
            cond = cond[1:-1].strip()
            stripped = True
        if not cond:
            continue
        if stripped:
            parts = [c.strip() for c in _split_on_and(cond)]
            if len(parts) > 1:
                work = parts + work
                continue
        disjuncts = [d.strip() for d in _split_on_or(cond)]
        if len(disjuncts) > 1:
            # OR group: Grafana templated multi-tag queries emit
            # ("host" = 'a' OR "host" = 'b'); the reference PARSES OR
            # via ifql-parser (cflux.js:691) then silently walks only
            # ANDed conditions (cflux.js:737-743) — silently-empty.
            # Here: a homogeneous disjunction of tag matchers or of
            # field predicates becomes one or-group ANDed with the
            # rest of the WHERE; anything mixed (or touching time)
            # still rejects loudly.
            tag_group: list[tuple[str, str, str]] = []
            field_group: list[tuple] = []
            for d in disjuncts:
                while d.startswith("(") and d.endswith(")") and _parens_balanced(d[1:-1]):
                    d = d[1:-1].strip()
                if re.match(r"time\b", d, re.IGNORECASE):
                    raise InfluxQLError(
                        f"OR over time bounds is not supported ({cond!r})"
                    )
                fp = _parse_field_pred(d)
                if fp is not None:
                    field_group.append(fp)
                    continue
                tm_ = _parse_tag_matcher(d)
                if tm_ is not None:
                    tag_group.append(tm_)
                    continue
                raise InfluxQLError(f"unsupported OR disjunct {d!r} in {cond!r}")
            if tag_group and field_group:
                raise InfluxQLError(
                    f"OR may not mix tag and field predicates ({cond!r}): a tag "
                    "matcher filters series, a field predicate filters points"
                )
            if tag_group:
                w.tag_or_groups.append(tag_group)
            else:
                w.field_or_groups.append(field_group)
            continue
        if re.fullmatch(r"time\s*(!=|<>)\s*.+", cond, re.IGNORECASE):
            # InfluxDB has no time-inequality predicate; letting it
            # fall through would read it as a FIELD named "time" and
            # return silently empty (round 8)
            raise InfluxQLError(f"time != is not valid InfluxQL ({cond!r})")
        tm = re.fullmatch(r"time\s*(>=|<=|>|<|=)\s*(.+)", cond, re.IGNORECASE)
        if tm:
            op, val = tm.group(1), tm.group(2).strip()
            rel = re.fullmatch(r"now\s*\(\s*\)\s*(?:-\s*(\S+))?", val, re.IGNORECASE)
            if op == "=":
                # exact-instant equality (round 8; previously parsed as
                # a field predicate on a field named "time" — silently
                # empty): canonicalize to the 1 ns half-open window
                if rel:
                    raise InfluxQLError(
                        "time = now() is not supported; use a range"
                    )
                ns = _parse_time_value(val)
                w.time_lo_ns = ns if w.time_lo_ns is None else max(w.time_lo_ns, ns)
                w.time_hi_ns = (
                    ns + 1 if w.time_hi_ns is None else min(w.time_hi_ns, ns + 1)
                )
                continue
            if rel:
                w.relative = True
                dur_s = int(_parse_duration(rel.group(1))) if rel.group(1) else 0
                if op in (">", ">="):
                    w.relative_s = dur_s
                    w.relative_lo_inclusive = op == ">="
                elif dur_s == 0:
                    pass  # 'time < now()' — no-op upper bound (cflux.js:689 strips it; same, knowingly)
                else:
                    w.relative_hi_s = dur_s
                    w.relative_hi_inclusive = op == "<="
                continue
            # absolute bounds canonicalize to half-open [lo, hi) in ns,
            # so strict vs inclusive operators keep InfluxDB semantics
            # (ts_ns is integer ns — the ±1 adjustment is exact)
            ns = _parse_time_value(val)
            if op == ">":
                lo = ns + 1
            elif op == ">=":
                lo = ns
            elif op == "<=":
                hi = ns + 1
            else:  # <
                hi = ns
            if op in (">", ">="):
                w.time_lo_ns = lo if w.time_lo_ns is None else max(w.time_lo_ns, lo)
            else:
                w.time_hi_ns = hi if w.time_hi_ns is None else min(w.time_hi_ns, hi)
            continue
        # field-value predicates: ordering ops are always field
        # comparisons (tags have no order), and =/!= with an UNQUOTED
        # numeric or boolean literal is a field comparison too —
        # InfluxQL's quoting rule: 'quoted' RHS → tag, bare number/
        # bool → field value
        fp = _parse_field_pred(cond)
        if fp is not None:
            w.field_filters.append(fp)
            continue
        tg = _parse_tag_matcher(cond)
        if tg is not None:
            w.tag_filters.append(tg)
            continue
        raise InfluxQLError(f"unsupported WHERE condition {cond!r}")
    return w


def _series_where(text: str | None, verb: str, absolute_time: bool = False) -> _Where:
    """``_parse_where`` for the statements whose WHERE selects series
    (SHOW, DROP SERIES, DELETE): field predicates reject, and so do
    time bounds, except DELETE's absolute ones."""
    w = _parse_where(text or "")
    timed = w.relative or (
        not absolute_time and (w.time_lo_ns is not None or w.time_hi_ns is not None)
    )
    if timed or w.field_filters or w.field_or_groups:
        allowed = "tag matchers and absolute time bounds" if absolute_time else "tag matchers"
        raise InfluxQLError(f"{verb} ... WHERE supports {allowed} only, got {text!r}")
    return w


def parse_select(q: str) -> SelectStmt:
    # tz('Area/City') — InfluxQL's trailing time-zone clause (Grafana
    # emits it for non-UTC dashboards). Carved off the end before the
    # main regex; the zone is validated HERE so a typo'd dashboard
    # zone is a loud client error, not a runtime Java exception.
    tzname = None
    mtz = re.search(r"\s+tz\s*\(\s*'([^']*)'\s*\)\s*;?\s*$", q, re.IGNORECASE)
    if mtz:
        tzname = mtz.group(1)
        if not re.fullmatch(r"[A-Za-z0-9_+\-/]+", tzname):
            raise InfluxQLError(f"bad time zone {tzname!r}")
        import zoneinfo

        try:
            zoneinfo.ZoneInfo(tzname)
        except Exception:
            raise InfluxQLError(f"unknown time zone {tzname!r}") from None
        q = q[: mtz.start()]
    # SELECT ... INTO <target> FROM ... — carve the INTO clause out
    # first (InfluxDB downsample materialization; absent in the
    # reference). Retention-policy prefixes are ignored like FROM's.
    into = None
    into_db = None
    minto = re.search(r"\sINTO\s+([\w\".:]+)\s+(?=FROM\s)", q, re.IGNORECASE)
    if minto:
        parts = [_unquote(p) for p in _split_outside_quotes(minto.group(1), ".")]
        into = parts[-1]
        if into.startswith(":"):
            # normalize the backreference token at parse time so the
            # downstream `== ":MEASUREMENT"` checks (fan-out + same-db
            # guard) can't be dodged by case (round-7 ADVICE:
            # `INTO :measurement` silently wrote a literal
            # ':measurement' measurement); any other ':'-prefixed
            # target is a typo'd backreference, not a name — reject
            if into.upper() != ":MEASUREMENT":
                raise InfluxQLError(
                    f"invalid INTO target {into!r}: the only supported "
                    "backreference is :MEASUREMENT"
                )
            into = ":MEASUREMENT"
        # "db"."rp".m carries a cross-db target; "rp".m is an
        # RP prefix, ignored like FROM's (data is not RP-partitioned)
        if len(parts) == 3 and parts[0]:
            into_db = parts[0]
        q = q[: minto.start()] + " " + q[minto.end() :]
    # FROM (SELECT ...) — carve out the parenthesized inner statement,
    # parse it recursively, and parse the outer clauses against a
    # placeholder measurement
    sub = re.match(r"\s*SELECT\s+(?P<fields>.+?)\s+FROM\s*\(", q, re.IGNORECASE | re.DOTALL)
    if sub:
        start = sub.end() - 1
        depth = 0
        end = -1
        for i in range(start, len(q)):
            if q[i] == "(":
                depth += 1
            elif q[i] == ")":
                depth -= 1
                if depth == 0:
                    end = i
                    break
        if end < 0:
            raise InfluxQLError(f"unbalanced parens in FROM subquery: {q!r}")
        inner = parse_select(q[start + 1 : end])
        outer = parse_select(f"SELECT {sub.group('fields')} FROM __sub__ {q[end + 1 :]}")
        outer.subquery = inner
        # the INTO clause was carved from the original text above —
        # re-attach it (late round 7: it was silently dropped, so
        # INTO-from-subquery ran as a plain SELECT)
        outer.into = into
        outer.into_db = into_db
        # tz() applies to the whole statement: inner buckets shift too
        outer.tz = tzname
        if inner.tz is None:
            inner.tz = tzname
        # the envelope's series name is the innermost measurement
        outer.measurement = inner.measurement
        outer.db = inner.db
        # InfluxDB propagates the outer time range into the subquery —
        # down the WHOLE chain (each level parsed before the outer
        # bounds existed, so a one-level copy would strand depth ≥ 3).
        # When BOTH levels carry a bound, INTERSECT (max lo, min hi):
        # fill-if-missing alone silently ignored an outer range
        # tighter than the inner's, returning buckets the outer WHERE
        # time excluded (late round 7)
        lvl = inner
        while lvl is not None:
            if outer.time_lo_ns is not None:
                lvl.time_lo_ns = (
                    outer.time_lo_ns
                    if lvl.time_lo_ns is None
                    else max(lvl.time_lo_ns, outer.time_lo_ns)
                )
            if outer.time_hi_ns is not None:
                lvl.time_hi_ns = (
                    outer.time_hi_ns
                    if lvl.time_hi_ns is None
                    else min(lvl.time_hi_ns, outer.time_hi_ns)
                )
            if outer.relative_s is not None and (
                lvl.relative_s is None or outer.relative_s < lvl.relative_s
            ):
                # now()-relative windows intersect the same way: the
                # smaller lookback is the tighter lower bound
                lvl.relative_s = outer.relative_s
                lvl.relative_lo_inclusive = outer.relative_lo_inclusive
            lvl = lvl.subquery
        return outer
    m = re.match(
        r"\s*SELECT\s+(?P<fields>.+?)\s+FROM\s+(?P<from>\S+(?:\s*,\s*\S+)*)"
        r"(?:\s+WHERE\s+(?P<where>.*?))?"
        r"(?:\s+GROUP\s+BY\s+(?P<groupby>.*?))?"
        r"(?:\s+ORDER\s+BY\s+time\s*(?P<order>ASC|DESC)?)?"
        r"(?:\s+LIMIT\s+(?P<limit>\d+))?"
        r"(?:\s+OFFSET\s+(?P<offset>\d+))?"
        r"(?:\s+SLIMIT\s+(?P<slimit>\d+))?"
        r"(?:\s+SOFFSET\s+(?P<soffset>\d+))?\s*;?\s*$",
        q,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise InfluxQLError(f"unparsable SELECT: {q!r}")

    # the minimal grammar has no quote escapes, so an odd quote count is
    # always an unterminated literal — reject loudly rather than let the
    # tag-filter regex silently misparse the dangling fragment
    if q.count("'") % 2 or q.count('"') % 2:
        raise InfluxQLError(f"unbalanced quote in {q!r}")

    fields: list[FieldSpec] = []
    # split the SELECT list on commas outside parens so
    # "derivative(mean(v), 1s), max(v)" yields two expressions.
    # Each expression appends EXACTLY ONE FieldSpec; a trailing
    # "AS alias" is carved off here and re-attached after the loop
    # (the per-branch parse regexes stay alias-free).
    field_aliases: list[str | None] = []
    for raw in _split_outside_parens(m.group("fields")):
        raw = raw.strip()
        am = re.fullmatch(r"(.+?)\s+AS\s+(\w+|\"[^\"]+\")", raw, re.IGNORECASE | re.DOTALL)
        if am:
            raw, alias = am.group(1).strip(), _unquote(am.group(2))
        else:
            alias = None
        field_aliases.append(alias)
        # ::type casts (InfluxDB disambiguation): user::float selects
        # the FIELD user — strip the suffix and parse normally. ::tag
        # (a tag as a SELECT column) stays out of grammar, loudly.
        cm = re.fullmatch(
            r"(.+?)\s*::\s*(float|integer|string|field|tag)", raw, re.IGNORECASE
        )
        if cm:
            if cm.group(2).lower() == "tag":
                # host::tag — the tag as a per-point column; validated
                # against aggregation at execute time
                fields.append(FieldSpec(None, _unquote(cm.group(1).strip()), tag=True))
                continue
            raw = cm.group(1).strip()
        # SELECT arithmetic (round 5): max(v) - min(v), mean(v) * 100,
        # user + sys, (a + b) / 2 ... — parsed to an AST; execution
        # composes the leaf aggregates/fields with column arithmetic
        if _has_top_level_arith(raw):
            node = _parse_arith(raw)
            aggs = _arith_leaves(node, "agg")
            flds = _arith_leaves(node, "field")
            if aggs and flds:
                raise InfluxQLError(
                    f"SELECT arithmetic may not mix aggregates and raw fields: {raw!r}"
                )
            if not aggs and not flds:
                raise InfluxQLError(f"SELECT arithmetic needs a field or aggregate: {raw!r}")
            if aggs:
                seen: list[str] = []
                for a in aggs:
                    if a[1] not in seen:
                        seen.append(a[1])
                default_name = "_".join(seen)
            else:
                seen = []
                for fnode in flds:
                    if fnode[1] not in seen:
                        seen.append(fnode[1])
                default_name = "_".join(seen)
            fields.append(FieldSpec(None, default_name, expr=node))
            continue
        # nested transform: tx(agg(field[, agg_arg])[, tx_arg])
        tm2 = re.fullmatch(
            r"(\w+)\s*\(\s*(\w+)\s*\(\s*([^)]*?)\s*\)\s*(?:,\s*([^)]+?)\s*)?\)(?:\s+AS\s+\w+)?",
            raw,
            re.IGNORECASE,
        )
        if (
            tm2
            and tm2.group(1).lower() == "count"
            and tm2.group(2).lower() == "distinct"
            and not tm2.group(4)
        ):
            fields.append(FieldSpec("count_distinct", _unquote(tm2.group(3))))
            continue
        if tm2 and tm2.group(1).lower() in _FORECAST_FNS:
            # holt_winters[_with_fit](agg(field[, agg_arg]), N, S) —
            # fit + forecast over the bucketed aggregate (round 7)
            tx, inner = tm2.group(1).lower(), tm2.group(2).lower()
            if inner not in _AGG_FNS:
                raise InfluxQLError(f"unsupported aggregate {inner!r} under {tx}()")
            iargs = [a.strip() for a in tm2.group(3).split(",")] if tm2.group(3) else []
            if not iargs:
                raise InfluxQLError(f"missing field in {raw!r}")
            agg_arg = float(iargs[1]) if len(iargs) > 1 else None
            hw_args = [a.strip() for a in tm2.group(4).split(",")] if tm2.group(4) else []
            if len(hw_args) != 2 or not all(re.fullmatch(r"\d+", a) for a in hw_args):
                raise InfluxQLError(
                    f"{tx}(agg(field), N, S) takes integer N (points to "
                    f"predict) and S (seasonal pattern): {raw!r}"
                )
            n_pred, season = int(hw_args[0]), int(hw_args[1])
            if n_pred < 1:
                raise InfluxQLError(f"{tx} N must be >= 1: {raw!r}")
            fields.append(
                FieldSpec(
                    inner, _unquote(iargs[0]), agg_arg, tx, float(n_pred),
                    tx_arg2=float(season),
                )
            )
            continue
        if tm2 and tm2.group(1).lower() in _TA_FNS:
            # ta(agg(field[, agg_arg]), N[, 'warmup']) — TA transform
            # over a bucketed aggregate (GROUP BY time), round 7
            tx, inner = tm2.group(1).lower(), tm2.group(2).lower()
            if inner not in _AGG_FNS:
                raise InfluxQLError(f"unsupported aggregate {inner!r} under {tx}()")
            iargs = [a.strip() for a in tm2.group(3).split(",")] if tm2.group(3) else []
            if not iargs:
                raise InfluxQLError(f"missing field in {raw!r}")
            agg_arg = float(iargs[1]) if len(iargs) > 1 else None
            n, warmup = _parse_ta_args(tx, tm2.group(4), raw)
            fields.append(
                FieldSpec(inner, _unquote(iargs[0]), agg_arg, tx, float(n), tx_warmup=warmup)
            )
            continue
        if tm2 and tm2.group(1).lower() in _TX_FNS | set(_MATH_FNS):
            tx, inner = tm2.group(1).lower(), tm2.group(2).lower()
            if inner not in _AGG_FNS:
                raise InfluxQLError(f"unsupported aggregate {inner!r} under {tx}()")
            iargs = [a.strip() for a in tm2.group(3).split(",")] if tm2.group(3) else []
            if not iargs:
                raise InfluxQLError(f"missing field in {raw!r}")
            agg_arg = float(iargs[1]) if len(iargs) > 1 else None
            tx_arg: float | None = None
            if tm2.group(4):
                a = tm2.group(4).strip()
                # derivative unit is a duration; moving_average n is an int
                tx_arg = float(a) if re.fullmatch(r"\d+(\.\d+)?", a) else _parse_duration(a)
            fields.append(FieldSpec(inner, _unquote(iargs[0]), agg_arg, tx, tx_arg))
            continue
        fm = re.fullmatch(r"(\w+)\s*\(\s*([^)]+?)\s*\)(?:\s+AS\s+\w+)?", raw, re.IGNORECASE)
        if fm:
            fn = fm.group(1).lower()
            args = [a.strip() for a in fm.group(2).split(",")]
            if fn in _FORECAST_FNS:
                raise InfluxQLError(
                    f"{fn} requires an aggregate and GROUP BY time(): "
                    f"{fn}(mean(field), N, S) — got {raw!r}"
                )
            if fn in _TA_FNS:
                # ta(field, N[, 'warmup']) over RAW points (round 7)
                n, warmup = _parse_ta_args(fn, ", ".join(args[1:]) or None, raw)
                fields.append(
                    FieldSpec(None, _unquote(args[0]), None, fn, float(n), tx_warmup=warmup)
                )
                continue
            if fn in _TX_FNS:
                # transforms over RAW points (no inner aggregate):
                # derivative(v[, unit]), difference(v), cumulative_sum(v),
                # moving_average(v, N) — InfluxDB applies them per series
                # and Grafana emits them for rate panels
                if len(args) > 2:
                    raise InfluxQLError(f"{fn}(field[, arg]): {raw!r}")
                if fn == "moving_average" and len(args) != 2:
                    raise InfluxQLError(f"moving_average(field, N): {raw!r}")
                tx_arg = None
                if len(args) == 2:
                    a = args[1]
                    tx_arg = (
                        float(a) if re.fullmatch(r"\d+(\.\d+)?", a) else _parse_duration(a)
                    )
                fields.append(FieldSpec(None, _unquote(args[0]), None, fn, tx_arg))
                continue
            if fn in _SEL_FNS:
                # top(f, N) / bottom(f, N) — N actual points
                if len(args) != 2 or not re.fullmatch(r"\d+", args[1]):
                    raise InfluxQLError(f"{fn}(field, N) requires an integer N: {raw!r}")
                fields.append(FieldSpec(fn, _unquote(args[0]), float(args[1])))
                continue
            if fn == "integral":
                # integral(f[, unit]) — area under the curve per unit
                unit_s = _parse_duration(args[1]) if len(args) > 1 else 1.0
                fields.append(FieldSpec(fn, _unquote(args[0]), unit_s))
                continue
            if fn == "elapsed":
                # elapsed(f[, unit]) — gap between consecutive points,
                # default unit 1ns (InfluxDB's default)
                unit_s = _parse_duration(args[1]) if len(args) > 1 else 1e-9
                fields.append(FieldSpec(fn, _unquote(args[0]), unit_s))
                continue
            if fn == "distinct":
                fields.append(FieldSpec(fn, _unquote(args[0])))
                continue
            if fn in _MATH_FNS:
                # math over a raw field: abs(v), round(v, 2), pow(v, 2)
                if len(args) > 2 or (len(args) == 2 and not re.fullmatch(r"-?\d+(\.\d+)?", args[1])):
                    raise InfluxQLError(f"{fn}(field[, number]): {raw!r}")
                m_arg = float(args[1]) if len(args) == 2 else None
                fields.append(FieldSpec(None, _unquote(args[0]), None, fn, m_arg))
                continue
            if fn not in _AGG_FNS:
                raise InfluxQLError(f"unsupported aggregate {fn!r}")
            agg_arg = float(args[1]) if len(args) > 1 else None
            fields.append(FieldSpec(fn, _unquote(args[0]), agg_arg))
        else:
            if "::" in raw:
                # InfluxDB ::field/::tag casts — outside the minimal
                # grammar; a bare pass-through would silently match no
                # field and return empty (SURVEY §7: reject loudly)
                raise InfluxQLError(f"::field/::tag casts are not supported: {raw!r}")
            if not re.fullmatch(r"\*|\w+|\"[^\"]+\"|'[^']+'", raw):
                # anything else (field arithmetic like max(v) - min(v),
                # stray operators) would silently become a literal
                # "field" that matches nothing — reject loudly instead
                raise InfluxQLError(f"unsupported SELECT expression {raw!r}")
            fields.append(FieldSpec(None, _unquote(raw)))

    assert len(fields) == len(field_aliases), "field/alias bookkeeping out of sync"
    fields = [
        f._replace(alias=a) if a else f for f, a in zip(fields, field_aliases)
    ]

    raw_from = m.group("from")
    # quote-aware splits: a quoted identifier may contain ',' or '.'
    # ("a,b", "c.d") — a naive str.split would shred it
    from_elems = [e.strip() for e in _split_outside_quotes(raw_from, ",") if e.strip()]
    if len(raw_from) >= 2 and raw_from[0] == "/" and raw_from[-1] == "/":
        # FROM /regex/ — the reference's ifql-parser accepts it; we
        # resolve matches against the registry at execution time
        stmt = SelectStmt(fields=fields, measurement=raw_from, measurement_regex=raw_from[1:-1])
    elif len(from_elems) > 1:
        # FROM m1, m2[, ...] — InfluxDB emits one series set per
        # measurement; ride the regex-FROM machinery with an anchored
        # alternation (resolution + per-measurement execution are
        # identical). db prefixes allowed, must agree across the list;
        # a list MIXING bare and qualified names is ambiguous (which
        # db does the bare one live in?) and is rejected rather than
        # silently resolving the bare name in the qualified db.
        names: list[str] = []
        dbs: set[str | None] = set()
        for part in from_elems:
            pieces = [_unquote(p) for p in _split_outside_quotes(part, ".")]
            if len(pieces) == 1:
                dbs.add(None)
                names.append(pieces[0])
            elif len(pieces) == 2 and pieces[0] == "autogen":
                # rp.measurement (same disambiguation as single FROM)
                dbs.add(None)
                names.append(pieces[1])
            elif len(pieces) in (2, 3):
                dbs.add(pieces[0])
                names.append(pieces[-1])
            else:
                raise InfluxQLError(f"bad FROM element {part!r}")
        real_dbs = {d for d in dbs if d is not None}
        if len(real_dbs) > 1:
            raise InfluxQLError(f"FROM list spans databases: {sorted(real_dbs)}")
        if real_dbs and None in dbs:
            raise InfluxQLError(
                f"FROM list mixes db-qualified and bare measurements: {raw_from!r}"
            )
        rx = "^(?:" + "|".join(re.escape(n) for n in names) + ")$"
        stmt = SelectStmt(
            fields=fields,
            measurement=raw_from,
            measurement_regex=rx,
            db=next(iter(real_dbs), None),
        )
    else:
        parts = [_unquote(p) for p in _split_outside_quotes(raw_from, ".")]
        prefix = None
        if len(parts) == 1:
            db, meas = None, parts[0]
        elif len(parts) == 2:
            # InfluxQL's grammar reads two-part as policy.measurement;
            # the engine also keeps its db.measurement reading for
            # cross-db SELECTs. 'autogen' (the universal default RP)
            # resolves statically; any other prefix is recorded and
            # resolved at EXECUTE time against the engine's registered
            # retention policies (RP wins) and existing databases —
            # the parser alone can't disambiguate "week"."cpu" after
            # CREATE RETENTION POLICY week.
            if parts[0] == "autogen":
                db, meas = None, parts[1]
            else:
                db, meas, prefix = parts[0], parts[1], parts[0]
        elif len(parts) == 3:  # db.rp.measurement — retention policy ignored (M7 is faked anyway)
            db, meas = parts[0], parts[2]
        else:
            raise InfluxQLError(f"bad FROM {raw_from!r}")
        stmt = SelectStmt(fields=fields, measurement=meas, db=db, from_prefix=prefix)

    for name, value in vars(_parse_where(m.group("where") or "")).items():
        setattr(stmt, name, value)

    groupby = m.group("groupby") or ""
    if groupby:
        fm = re.search(r"fill\s*\(\s*([\w.+-]+)\s*\)", groupby, re.IGNORECASE)
        if fm:
            stmt.fill = fm.group(1).lower()
            groupby = groupby.replace(fm.group(0), "")
        rest = groupby
        gbt = re.search(r"time\s*\(\s*([^,)]+?)\s*(?:,\s*([^)]+?)\s*)?\)", groupby, re.IGNORECASE)
        if gbt:
            iv = _parse_duration(gbt.group(1))
            if iv <= 0:
                # InfluxDB: "time() interval must be positive" —
                # previously 0s silently clamped to 1s, and sub-second
                # intervals (time(500ms)) silently TRUNCATED to 1s
                raise InfluxQLError("GROUP BY time() interval must be positive")
            stmt.group_by_time_s = int(iv) if float(iv).is_integer() else iv
            if gbt.group(2):
                # time(N, offset) — shifted bucket boundaries; a leading
                # '-' is allowed (InfluxDB accepts negative offsets)
                off = gbt.group(2).strip()
                sign = -1.0 if off.startswith("-") else 1.0
                stmt.group_by_time_offset_s = sign * _parse_duration(off.lstrip("+-"))
            rest = groupby.replace(gbt.group(0), "")
        for tok in rest.split(","):
            tok = tok.strip()
            if not tok:
                continue
            if tok == "*":
                stmt.group_by_star = True  # every tag key of the measurement
            elif re.fullmatch(r"[\w\"']+", tok):
                stmt.group_by_tags.append(_unquote(tok))
            else:
                raise InfluxQLError(f"unsupported GROUP BY term {tok!r}")

    if m.group("order"):
        stmt.order_desc = m.group("order").upper() == "DESC"
    if m.group("limit"):
        stmt.limit = int(m.group("limit"))
    if m.group("offset"):
        stmt.offset = int(m.group("offset"))
    if m.group("slimit"):
        stmt.slimit = int(m.group("slimit"))
    if m.group("soffset"):
        stmt.soffset = int(m.group("soffset"))
    stmt.into = into
    stmt.into_db = into_db
    stmt.tz = tzname
    return stmt


def _split_outside_parens(s: str) -> list[str]:
    out: list[str] = []
    depth = 0
    buf: list[str] = []
    for c in s:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == "," and depth == 0:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(c)
    if buf:
        out.append("".join(buf))
    return out


def _split_statements(q: str) -> list[str]:
    """Split on ``;`` outside quoted strings (InfluxQL accepts multiple
    ``;``-separated statements per request)."""
    out: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    for c in q:
        if quote:
            buf.append(c)
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
            buf.append(c)
        elif c == ";":
            s = "".join(buf).strip()
            if s:
                out.append(s)
            buf = []
        else:
            buf.append(c)
    s = "".join(buf).strip()
    if s:
        out.append(s)
    return out


def _bucket_ms(bucket_s: float, offset_s: float = 0.0, tz: str | None = None, src: str = "ts_ns"):
    """time column → bucket-start epoch-ms column, integer math
    throughout (double division of ns-scale longs loses precision
    above 2^53). ``offset_s`` shifts bucket boundaries (GROUP BY
    time(N, offset)); ``src`` is the source column: ``ts_ns`` (facts)
    or ``ts_ms`` (subquery inner results).

    With ``tz`` set (InfluxQL ``tz('Area/City')``), buckets align to
    LOCAL wall-clock boundaries: the zone's UTC offset is applied
    per-timestamp (DST-aware — from_utc_timestamp/to_utc_timestamp,
    JVM-side), flooring happens in local wall time, and the emitted
    label is the UTC instant of the local bucket start. Across a DST
    transition a local day bucket is 23/25 h long, matching InfluxDB;
    in the fall-back ambiguous hour to_utc_timestamp resolves to the
    zone's standard offset (documented simplification). Integer µs
    math; tz names are validated against zoneinfo at parse time."""
    bucket_ns = int(bucket_s * 1e9)
    bucket_ms = int(bucket_s * 1000)
    off_ns = int(offset_s * 1e9)
    if tz is not None:
        b_us = bucket_ns // 1000
        off_us = off_ns // 1000
        to_us = f"({src} div 1000)" if src == "ts_ns" else f"({src} * 1000)"
        local_us = f"unix_micros(from_utc_timestamp(timestamp_micros({to_us}), '{tz}'))"
        floored = f"(({local_us}) - ({off_us})) div {b_us} * {b_us} + ({off_us})"
        return F.expr(f"unix_millis(to_utc_timestamp(timestamp_micros({floored}), '{tz}'))")
    if src == "ts_ms":
        off_ms = off_ns // 1_000_000
        if off_ms:
            return F.expr(f"(ts_ms - ({off_ms})) div {bucket_ms}") * bucket_ms + F.lit(off_ms)
        return F.expr(f"ts_ms div {bucket_ms}") * bucket_ms
    if off_ns:
        off_ms = off_ns // 1_000_000
        return F.expr(f"(ts_ns - ({off_ns})) div {bucket_ns}") * bucket_ms + F.lit(off_ms)
    return F.expr(f"ts_ns div {bucket_ns}") * bucket_ms


class _Part(NamedTuple):
    """One frame of a SELECT plan, already ordered and sliced:
    ``[*tkeys, ts_ms, val]`` (or ``_v0.._vN`` for a point-aligned
    multi-column frame), its envelope column name(s), the row →
    ``[time, *values]`` mapper, and whether it holds at most one row
    per (series key, ts_ms) — bucket-keyed parts of one statement
    full-outer-join into one streamable frame. A raw frame also
    carries the write sink's ``ts_ns`` and typed value columns
    (``_sample_rows``), which ``_envelope_frame`` drops."""

    frame: DataFrame
    columns: str | list[str]
    mapper: Callable
    keyed: bool


class _Plan(NamedTuple):
    """A SELECT statement's parts plus what both sinks need around
    them: the statement (series name, ORDER BY), the GROUP BY tags
    and their frame keys, and the merge policy — whether the parts
    merge onto one column grid (multi-field or '*'), and the
    LIMIT/OFFSET the merged rows still owe."""

    stmt: SelectStmt
    parts: list[_Part]
    gtags: list[str]
    tkeys: list[str]
    merge: bool
    limit: int | None
    offset: int | None


class _OuterLevel(NamedTuple):
    """The outer level of a statement whose FROM is a subquery: the
    subquery's output frame (outer WHERE applied), the outer GROUP BY
    tags and frame keys, the outer specs ('*' expanded), the output
    name → frame column map, and whether the outer grouping keeps
    every tag the subquery groups by."""

    frame: DataFrame
    gtags: list[str]
    tkeys: list[str]
    specs: list[FieldSpec]
    colmap: dict[str, str]
    series_kept: bool


def _writes(method):
    """Run an ``InfluxQLEngine`` method under its ``write_lock``. When
    it fails, a commit may have stopped midway, so every store is
    reopened, and so recovered, on its next use."""

    @wraps(method)
    def locked(self, *args, **kwargs):
        with self.write_lock:
            try:
                return method(self, *args, **kwargs)
            except BaseException:
                self._stores.clear()
                raise

    return locked


class InfluxQLEngine:
    """Executes the statement surface against LPStore-backed databases."""

    #: rows the driver-side envelope assembly will materialize before
    #: failing loudly; None disables the guard.
    DEFAULT_MAX_RESULT_ROWS = 100_000

    def __init__(
        self,
        spark,
        root: str,
        max_result_rows: int | None = DEFAULT_MAX_RESULT_ROWS,
        default_window_s: float | None = None,
    ):
        self.spark = spark
        self.root = root
        self.subscriptions: dict[str, list[tuple[str, str]]] = {}
        # continuous queries: db → {name: (select_text, watermark_ns)}.
        # watermark = exclusive upper bound of data already materialized.
        self.continuous_queries: dict[str, dict[str, tuple[str, int]]] = {}
        # retention policies: db → {name: (duration_s, is_default)}.
        # duration 0 = keep forever (InfluxDB convention).
        self.retention_policies: dict[str, dict[str, tuple[float, bool]]] = {}
        self.max_result_rows = max_result_rows
        # F4: the reference defaults an un-ranged query to the last 300 s
        # (cflux.js:719-726). We default to InfluxDB's own all-history
        # semantics (None) and rely on max_result_rows for safety; pass
        # default_window_s=300 for reference-faithful behavior.
        self.default_window_s = default_window_s
        # EXPLAIN capture (round 9): thread-local so a dashboard's
        # concurrent statements on one engine can't cross-capture
        # (the 32-thread fan-in regime, scripts/concurrency_probe.py)
        self._explain_local = threading.local()
        # db → driver-side series index answering the SHOW
        # family (sources/series_index.py); the lock guards the dict,
        # each index locks its own refresh
        self._series_indexes: dict[str, SeriesIndex] = {}
        self._series_index_lock = threading.Lock()
        # the single writer, even under a threaded WSGI mount: /write
        # and every mutating statement hold it, so no commit races a
        # write, and store recovery never runs beside a commit.
        # Reentrant: a CQ run writes through SELECT ... INTO.
        self.write_lock = threading.RLock()
        self._stores: dict[str, LPStore] = {}

    def _bounded_collect(self, df: DataFrame) -> list:
        """Collect for envelope assembly with a loud cap. The result
        envelope is driver-assembled (same single-process shape as the
        reference, which streams every ClickHouse row into one Node
        process — cflux.js:792-810), so an unbounded raw-point SELECT
        would materialize the whole cluster-side result on the driver.
        ``limit(cap+1)`` bounds the scan itself — Spark plans it as
        TakeOrdered under the existing sort — and one extra row tells
        us the cap was exceeded (the cosine_pairs guard pattern,
        extensions/similarity.py)."""
        cap = getattr(self._explain_local, "plans", None)
        if cap is not None:
            # EXPLAIN capture mode: record the frame's Catalyst plan
            # at the exact point it would have executed, run nothing
            cap.append(_explain_string(df))
            return []
        if self.max_result_rows is None:
            return df.collect()
        rows = df.limit(self.max_result_rows + 1).collect()
        if len(rows) > self.max_result_rows:
            raise InfluxQLError(
                f"result exceeds max_result_rows={self.max_result_rows}; "
                f"narrow the time range, add LIMIT, or raise max_result_rows"
            )
        return rows

    @_writes
    def _write_samples_or_capture(self, target: LPStore, out: DataFrame) -> dict:
        """The write sink's twin of ``_bounded_collect``: write the
        sample rows, or under EXPLAIN record the write frame's Catalyst
        plan and do NOT mutate the store (round-10 fix — EXPLAIN of a
        downsample statement previously executed the write, violating
        the 'executing nothing' contract)."""
        cap = getattr(self._explain_local, "plans", None)
        if cap is not None:
            cap.append(_explain_string(out))
            return {"facts": 0, "new_series": 0}
        return target.write_samples(out)

    def store(self, db: str | None) -> LPStore:
        """The db's store, opened (so recovered) under ``write_lock``,
        once per engine."""
        name = db or "default"
        store = self._stores.get(name)
        if store is None:
            with self.write_lock:
                try:
                    store = self._stores.setdefault(name, LPStore(self.spark, self.root, db=name))
                except ValueError as exc:  # bad db name → client error, not a 500
                    raise InfluxQLError(str(exc)) from None
        return store

    def _stmt_store(self, stmt: SelectStmt, db: str | None) -> LPStore:
        """Resolve a SELECT's target store, disambiguating a two-part
        FROM prefix at execute time: InfluxQL reads ``"x"."m"`` as
        rp.measurement, this engine also accepts db.measurement for
        cross-db SELECTs. A prefix naming a registered retention
        policy of the session db resolves as that RP (data is not
        partitioned by RP, so the session db's measurement is the
        target); otherwise a prefix naming an EXISTING database
        resolves as that db; anything else rejects loudly — reading
        ``FROM "week"."cpu"`` as db 'week' would silently return
        empty, the failure class the parser otherwise rejects."""
        import os

        prefix = stmt.from_prefix
        if prefix is None:
            return self.store(stmt.db or db)
        session_db = db or "default"
        if prefix in self.retention_policies.get(session_db, {}):
            return self.store(session_db)
        # only a validated name may touch the filesystem (store() would
        # validate too, but isdir() runs first)
        if re.fullmatch(r"[A-Za-z0-9_][A-Za-z0-9_.-]*", prefix) and os.path.isdir(
            os.path.join(self.root, prefix)
        ):
            return self.store(prefix)
        raise InfluxQLError(
            f"FROM {prefix!r}.{stmt.measurement!r}: {prefix!r} is neither an "
            f"existing database nor a retention policy of {session_db!r}"
        )

    # ------------------------------------------------------------ dispatch

    def execute(self, q: str, db: str | None = None) -> dict:
        """One or more ``;``-separated statements → one results array
        with sequential statement_ids (InfluxDB envelope shape)."""
        stmts = _split_statements(q)
        if not stmts:
            return _envelope([])
        if len(stmts) == 1:
            return self._execute_one(stmts[0], db)
        results = []
        for i, s in enumerate(stmts):
            # a failing statement yields a per-statement error entry and
            # the others still run (InfluxDB multi-statement semantics),
            # rather than aborting the whole request
            try:
                entry = self._execute_one(s, db)["results"][0]
            except InfluxQLError as exc:
                entry = {"statement_id": i, "error": str(exc)}
            else:
                entry["statement_id"] = i
            results.append(entry)
        return {"results": results}

    def _execute_one(self, q: str, db: str | None = None) -> dict:
        qs = q.strip()
        upper = qs.upper()
        if upper.startswith("SHOW DATABASES"):
            return self._show_databases()
        m_badcard = re.match(
            r"SHOW (MEASUREMENTS|FIELD KEYS|TAG KEYS)\s+(EXACT\s+)?CARDINALITY", upper
        )
        if m_badcard:
            # the plural forms would otherwise fall through to their
            # LIST handlers and silently answer with the list (the
            # TAG VALUES bug class, round 8); InfluxDB's cardinality
            # grammar is singular
            singular = {
                "MEASUREMENTS": "MEASUREMENT",
                "FIELD KEYS": "FIELD KEY",
                "TAG KEYS": "TAG KEY",
            }[m_badcard.group(1)]
            raise InfluxQLError(
                f"SHOW {m_badcard.group(1)} CARDINALITY is not InfluxQL — "
                f"use SHOW {singular} CARDINALITY"
            )
        if upper.startswith("SHOW MEASUREMENTS"):
            return self._show(self._show_measurements, qs, db)
        if upper.startswith("SHOW FIELD KEYS"):
            return self._show(self._show_field_keys, qs, db)
        if upper.startswith("SHOW TAG KEYS"):
            return self._show(self._show_tag_keys, qs, db)
        if re.match(r"SHOW TAG VALUES\s+(EXACT\s+)?CARDINALITY", upper):
            # must dispatch BEFORE the plain TAG VALUES branch, which
            # previously swallowed the CARDINALITY token and answered
            # with the VALUES — silently wrong (round 8)
            return self._show(self._show_tag_values_cardinality, qs, db)
        if upper.startswith("SHOW TAG VALUES"):
            return self._show(self._show_tag_values, qs, db)
        if re.match(r"SHOW (SERIES|MEASUREMENT|FIELD KEY|TAG KEY)\s+(EXACT\s+)?CARDINALITY", upper):
            subject = re.match(r"SHOW (SERIES|MEASUREMENT|FIELD KEY|TAG KEY)", upper).group(1).lower()
            return self._show(self._show_cardinality, subject, qs, db)
        if upper.startswith("SHOW SERIES"):
            return self._show(self._show_series, qs, db)
        if upper.startswith("CREATE RETENTION POLICY"):
            return self._create_retention_policy(qs, db)
        if upper.startswith("SHOW RETENTION POLICIES"):
            return self._show_retention_policies(_parse_show(qs).on_db or db)
        if upper.startswith("SHOW SUBSCRIPTIONS"):
            return self._show_subscriptions()
        if upper.startswith("CREATE DATABASE"):
            name = _unquote(qs.split(None, 2)[2]) if len(qs.split(None, 2)) > 2 else (db or "default")
            self.store(name)  # lazily created on first write; nothing to do eagerly
            return _envelope([])
        if upper.startswith("CREATE SUBSCRIPTION"):
            return self._create_subscription(qs, db)
        if upper.startswith("CREATE CONTINUOUS QUERY"):
            return self._create_cq(qs, db)
        if upper.startswith("SHOW CONTINUOUS QUERIES"):
            return self._show_cqs()
        if upper.startswith("DROP CONTINUOUS QUERY"):
            return self._drop_cq(qs, db)
        if upper.startswith("DROP MEASUREMENT"):
            return self._drop_measurement(qs, db)
        if upper.startswith("DROP DATABASE"):
            return self._drop_database(qs)
        if upper.startswith("DROP SERIES"):
            return self._drop_series(qs, db)
        if upper.startswith("DELETE"):
            return self._delete(qs, db)
        if upper.startswith("EXPLAIN"):
            return self._explain(qs, lambda inner: self._select(parse_select(inner), db))
        if upper.startswith("SELECT"):
            return self._select(parse_select(qs), db)
        # M11: unsupported statements return the empty envelope
        # (cflux.js:846-852) rather than erroring the client
        return _envelope([])

    # ------------------------------------------------------------ deletion

    @_writes
    def _drop_measurement(self, qs: str, db: str | None) -> dict:
        """``DROP MEASUREMENT "m"`` — delete the measurement's facts
        (partition-targeted, LPStore.delete_where) and purge its
        registry rows. The reference answers this via the M11 empty
        envelope without acting; a real store must act."""
        m = re.fullmatch(r'\s*DROP\s+MEASUREMENT\s+(?P<m>"[^"]+"|\S+)\s*', qs, re.IGNORECASE)
        if not m:
            raise InfluxQLError(f"bad DROP MEASUREMENT: {qs!r}")
        store = self.store(db)
        meas = _unquote(m.group("m"))
        if len(meas) >= 2 and meas.startswith("/") and meas.endswith("/"):
            # InfluxDB rejects regex here too; acting on the literal
            # slashes would silently drop nothing
            raise InfluxQLError(
                "DROP MEASUREMENT does not accept a regex — use "
                "DELETE FROM /re/ (points) or DROP SERIES FROM (series)"
            )
        store.delete_where(measurement=meas)
        store.purge_registry(meas)
        return _envelope([])

    @_writes
    def _drop_database(self, qs: str) -> dict:
        """``DROP DATABASE name`` — removes the database directory
        (facts + registry) and its control-table entries (retention
        policies, continuous queries, subscriptions)."""
        import os
        import shutil

        m = re.fullmatch(r'\s*DROP\s+DATABASE\s+(?P<db>"[^"]+"|\S+)\s*', qs, re.IGNORECASE)
        if not m:
            raise InfluxQLError(f"bad DROP DATABASE: {qs!r}")
        name = _unquote(m.group("db"))
        # the name reaches rmtree — refuse separators/'..' so the
        # unauthenticated /query edge can't delete outside the root
        try:
            validate_db_name(name)
        except ValueError as exc:
            raise InfluxQLError(str(exc)) from None
        target = os.path.realpath(os.path.join(self.root, name))
        if not target.startswith(os.path.realpath(self.root) + os.sep):
            raise InfluxQLError(f"invalid database name: {name!r}")
        shutil.rmtree(target, ignore_errors=True)
        self._stores.pop(name, None)
        with self._series_index_lock:
            self._series_indexes.pop(name, None)
        self.retention_policies.pop(name, None)
        self.subscriptions.pop(name, None)
        self.continuous_queries.pop(name, None)
        return _envelope([])

    @_writes
    def _drop_series(self, qs: str, db: str | None) -> dict:
        """``DROP SERIES FROM m [WHERE tag matchers]`` — resolve the
        doomed fingerprint set from the registry (``_series_where``),
        then anti-join it out of facts and registry
        (LPStore.delete_series). The fingerprint set stays a DataFrame
        end-to-end — no driver materialization, so a drop matching
        10^7 series is still a broadcast of longs."""
        m = re.fullmatch(
            r"\s*DROP\s+SERIES(?:\s+FROM\s+(?P<m>\"[^\"]+\"|\S+))?(?:\s+WHERE\s+(?P<w>.+?))?\s*",
            qs,
            re.IGNORECASE | re.DOTALL,
        )
        if not m or (m.group("m") is None and m.group("w") is None):
            # InfluxDB requires at least one of FROM/WHERE — a bare
            # DROP SERIES would silently nuke every series
            raise InfluxQLError(f"bad DROP SERIES (need FROM and/or WHERE): {qs!r}")
        w = _series_where(m.group("w"), "DROP SERIES")
        store = self.store(db)
        reg = store.read_registry()
        if reg is None:
            return _envelope([])
        # FROM m or FROM /regex/ (round 6 — InfluxDB allows the slash
        # form here; comparing the literal slashes dropped nothing)
        meas = None if m.group("m") is None else _unquote(m.group("m"))
        sel = _md.SparkRegistry(reg).from_measurement(meas).where(w.tag_filters, w.tag_or_groups)
        n = store.delete_series(sel.df.select("fingerprint"))
        return _envelope(
            [_series("result", ["time", "partitions_rewritten"], [[0, n]])]
        )

    @_writes
    def _delete(self, qs: str, db: str | None) -> dict:
        """``DELETE FROM m [WHERE ...]`` — InfluxDB 1.x point deletion.
        The WHERE takes SELECT's absolute time bounds and tag matchers
        (``_series_where``); no bounds deletes the whole measurement's
        points. Tag matchers narrow the deletion to the series they
        select in the registry; registry rows are kept either way
        (series metadata outlives points until DROP). ``FROM /regex/``
        (round 6) deletes from every matching measurement."""
        m = re.fullmatch(
            r"\s*DELETE\s+FROM\s+(?P<m>\"[^\"]+\"|\S+)(?:\s+WHERE\s+(?P<w>.+?))?\s*",
            qs,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise InfluxQLError(f"bad DELETE: {qs!r}")
        w = _series_where(m.group("w"), "DELETE", absolute_time=True)
        store = self.store(db)
        meas = _unquote(m.group("m"))
        names = [meas]
        rx = _md.slash_regex(meas)
        if rx is not None:
            names = self._lookup(store.db, lambda r: r.measurements("=~", rx)) or []
        reg = None
        if w.tag_filters or w.tag_or_groups:
            reg = store.read_registry()
            if reg is None:
                names = []
        dropped = rewritten = 0
        for name in names:
            fps = None
            if reg is not None:
                sel = _md.SparkRegistry(reg).from_measurement(name)
                fps = sel.where(w.tag_filters, w.tag_or_groups).df.select("fingerprint")
            st = store.delete_where(
                measurement=name, lo_ns=w.time_lo_ns, hi_ns=w.time_hi_ns, fingerprints=fps
            )
            dropped += st["partitions_dropped"]
            rewritten += st["partitions_rewritten"]
        return _envelope(
            [_series("result", ["time", "partitions_dropped", "partitions_rewritten"],
                     [[0, dropped, rewritten]])]
        )

    # ------------------------------------------------------------ metadata

    def _registry(self, db: str | None) -> DataFrame | None:
        return self.store(db).read_registry()

    def _series_index(self, db: str | None) -> SeriesIndex:
        store = self.store(db)
        with self._series_index_lock:
            if store.db not in self._series_indexes:
                self._series_indexes[store.db] = SeriesIndex(store.registry_path)
            return self._series_indexes[store.db]

    def _show_registry(self, db: str | None, indexed: bool):
        """The registry a SHOW statement reads, or None when the store
        has no registry: the series index (``ArrowRegistry``, no Spark
        job) when ``indexed`` and the registry is under
        ``SERIES_INDEX_MAX_ROWS``, else the latest-wins frame
        (``SparkRegistry``)."""
        if indexed:
            rows = self._series_index(db).refresh()
            if rows is not ABOVE_CAP:
                return None if rows is None else _md.ArrowRegistry(rows)
        reg = self._registry(db)
        return None if reg is None else _md.SparkRegistry(reg)

    def _show(self, handler: Callable[..., dict], *args) -> dict:
        """Run a SHOW handler on the series index. A regex Python cannot
        compile reruns it on the Spark path, whose ``rlike`` judges it."""
        try:
            return handler(*args, indexed=True)
        except re.error:
            return handler(*args, indexed=False)

    def _lookup(self, db: str | None, answer: Callable):
        """``answer(view)`` over ``db``'s registry view, or None when the
        store has no registry: SHOW's ``_show_registry`` with ``_show``'s
        fallback rule, for the registry lookups of other statements."""
        def run(indexed: bool):
            reg = self._show_registry(db, indexed)
            return None if reg is None else answer(reg)

        return self._show(run)

    def _show_databases(self) -> dict:
        import os

        dbs = sorted(
            d for d in (os.listdir(self.root) if os.path.isdir(self.root) else []) if not d.startswith("_")
        )
        return _envelope([_series("databases", ["name"], [[d] for d in dbs])])

    def _show_filter(self, reg, sc: _ShowClauses, meas: str | None = None):
        """WHERE clause on SHOW statements: the tag matchers and OR
        groups of ``_series_where`` over the registry (InfluxDB meta
        queries filter by series tags), then ``FROM m`` /
        ``FROM /regex/``. Time bounds and field predicates reject. The
        condition text arrives pre-carved by the quote-aware
        ``_parse_show``."""
        if sc.where is not None:
            w = _series_where(sc.where, "SHOW")
            reg = reg.where(w.tag_filters, w.tag_or_groups)
        return reg.from_measurement(meas)

    def _show_measurements(self, qs: str, db: str | None, indexed: bool) -> dict:
        """SHOW MEASUREMENTS [WITH MEASUREMENT =~ /re/ | = name]
        [WHERE tag matchers] [LIMIT n] [OFFSET n] — all four clauses
        were previously ignored silently (round-5 conformance fix).
        Answered from the series index (``_show_registry``)."""
        sc = _parse_show(qs)
        reg = self._show_registry(sc.on_db or db, indexed)
        if reg is None:
            return _envelope([_series("measurements", ["name"], [])])
        reg = self._show_filter(reg, sc)
        wm = sc.with_clause("MEASUREMENT") if "WITH" in sc.head.upper() else None
        op = pattern = None
        if wm is not None:
            m = re.match(r"(=~|=)\s*(.+)$", wm, re.DOTALL)
            if not m:
                raise InfluxQLError(f"unparsable WITH MEASUREMENT {wm!r}")
            op, rhs = m.group(1), m.group(2).strip()
            if op == "=~":
                pattern = _md.slash_regex(rhs)
                if pattern is None:
                    raise InfluxQLError(
                        f"WITH MEASUREMENT =~ requires a /regex/: {rhs!r}"
                    )
            else:
                pattern = _unquote(rhs)
        vals = [[name] for name in reg.measurements(op, pattern)]
        vals = _slice_values(vals, sc.limit, sc.offset)
        return _envelope([_series("measurements", ["name"], vals)])

    def _show_series(self, qs: str, db: str | None, indexed: bool) -> dict:
        """SHOW SERIES [FROM m] — series keys 'measurement,k=v,...'
        (InfluxDB 1.x; beyond the reference, whose dispatch ladder
        answers it with the M11 empty envelope — Grafana issues it).
        Answered from the series index (``_show_registry``)."""
        sc = _parse_show(qs)
        reg = self._show_registry(sc.on_db or db, indexed)
        if reg is None:
            return _envelope([])
        keys = self._show_filter(reg, sc, sc.from_name).series_keys()
        if not keys:
            return _envelope([])
        vals = _slice_values([[k] for k in keys], sc.limit, sc.offset)
        # InfluxDB emits a nameless series with a single `key` column
        return _envelope([{"columns": ["key"], "values": vals}])

    def _show_cardinality(self, subject: str, qs: str, db: str | None, indexed: bool) -> dict:
        """SHOW <subject> [EXACT] CARDINALITY [FROM m] — exact counts
        over the registry (capacity-planning family, InfluxDB 1.x).
        Answered from the series index (``_show_registry``)."""
        sc = _parse_show(qs)
        reg = self._show_registry(sc.on_db or db, indexed)
        n = 0
        if reg is not None:
            n = self._show_filter(reg, sc, sc.from_name).cardinality(subject)
        return _envelope([{"columns": ["count"], "values": [[n]]}])

    def _show_field_keys(self, qs: str, db: str | None, indexed: bool) -> dict:
        """SHOW FIELD KEYS [FROM m] — one series per measurement,
        answered from the series index (``_show_registry``)."""
        sc = _parse_show(qs)
        reg = self._show_registry(sc.on_db or db, indexed)
        if reg is None:
            return _envelope([])
        out: dict[str, list] = {}
        for meas, name in self._show_filter(reg, sc, sc.from_name).field_keys():
            fieldname = name.split(".", 1)[1] if "." in name else name
            # the reference reports every field as float (cflux.js:461)
            out.setdefault(meas, []).append([fieldname, "float"])
        return _envelope(
            [_series(m, ["fieldKey", "fieldType"], _slice_values(v, sc.limit, sc.offset))
             for m, v in out.items()]
        )

    def _show_tag_keys(self, qs: str, db: str | None, indexed: bool) -> dict:
        """SHOW TAG KEYS [FROM m] — one series per measurement,
        answered from the series index (``_show_registry``)."""
        sc = _parse_show(qs)
        reg = self._show_registry(sc.on_db or db, indexed)
        if reg is None:
            return _envelope([])
        out: dict[str, list] = {}
        for meas, key in self._show_filter(reg, sc, sc.from_name).tag_keys():
            out.setdefault(meas, []).append([key])
        return _envelope(
            [_series(m, ["tagKey"], _slice_values(v, sc.limit, sc.offset))
             for m, v in out.items()]
        )

    def _tag_values_kv(self, qs: str, db: str | None, indexed: bool):
        """Shared carving for the TAG VALUES family: parse WITH KEY
        (=, IN, =~), apply ON/FROM/WHERE, and return the filtered
        registry view (or None with no registry), the WITH KEY key list
        and regex, and the parsed show clause."""
        sc = _parse_show(qs)
        wk = sc.with_clause("KEY") if "WITH" in sc.head.upper() else None
        if wk is None:
            # InfluxDB: "SHOW TAG VALUES requires a WITH KEY clause" —
            # listing every key/value instead would be friendlier but
            # off-grammar (round 8; previously listed everything)
            raise InfluxQLError("SHOW TAG VALUES requires a WITH KEY clause")
        keys: list[str] | None = None
        key_rx: str | None = None
        km = re.match(r"(?:IN\s*\(([^)]*)\)|=~\s*(.+)|=\s*(.+))$", wk,
                      re.IGNORECASE | re.DOTALL)
        if not km:
            raise InfluxQLError(f"unparsable WITH KEY {wk!r}")
        if km.group(1) is not None:
            keys = [_unquote(k) for k in km.group(1).split(",") if k.strip()]
        elif km.group(2) is not None:
            rhs = km.group(2).strip()
            key_rx = _md.slash_regex(rhs)
            if key_rx is None:
                raise InfluxQLError(f"WITH KEY =~ requires a /regex/: {rhs!r}")
        else:
            keys = [_unquote(km.group(3))]
        reg = self._show_registry(sc.on_db or db, indexed)
        if reg is not None:
            reg = self._show_filter(reg, sc, sc.from_name)
        return reg, keys, key_rx, sc

    def _show_tag_values(self, qs: str, db: str | None, indexed: bool) -> dict:
        """SHOW TAG VALUES [FROM m] WITH KEY ... — one series per
        measurement, answered from the series index
        (``_show_registry``)."""
        reg, keys, key_rx, sc = self._tag_values_kv(qs, db, indexed)
        if reg is None:
            return _envelope([])
        out: dict[str, list] = {}
        for meas, key, value in reg.tag_values(keys, key_rx):
            out.setdefault(meas, []).append([key, value])
        return _envelope(
            [_series(m, ["key", "value"], _slice_values(v, sc.limit, sc.offset))
             for m, v in out.items()]
        )

    def _show_tag_values_cardinality(self, qs: str, db: str | None, indexed: bool) -> dict:
        """SHOW TAG VALUES [EXACT] CARDINALITY [FROM m] WITH KEY ... —
        the count of distinct (key, value) pairs the matching VALUES
        statement would list (house cardinality convention: one exact
        global count, like the SERIES/TAG KEY forms). Previously the
        CARDINALITY token fell through to the VALUES handler and the
        statement answered with the values themselves."""
        qs2 = re.sub(r"(?i)\s+EXACT\s+CARDINALITY\b|\s+CARDINALITY\b", "", qs, count=1)
        reg, keys, key_rx, _sc = self._tag_values_kv(qs2, db, indexed)
        n = 0 if reg is None else reg.tag_value_count(keys, key_rx)
        return _envelope([{"columns": ["count"], "values": [[n]]}])

    def _show_subscriptions(self) -> dict:
        series = []
        for db, subs in self.subscriptions.items():
            series.append(
                _series(db, ["retention_policy", "name", "mode", "destinations"],
                        [["autogen", sid, "ANY", [tgt]] for sid, tgt in subs])
            )
        return _envelope(series)

    def _create_subscription(self, qs: str, db: str | None) -> dict:
        m = re.match(
            r"CREATE\s+SUBSCRIPTION\s+(\S+)\s+ON\s+(\S+?)(?:\.\S+)?\s+DESTINATIONS\s+\w+\s+(.+)",
            qs,
            re.IGNORECASE,
        )
        if not m:
            raise InfluxQLError(f"unparsable CREATE SUBSCRIPTION: {qs!r}")
        sid, target_db, target = _unquote(m.group(1)), _unquote(m.group(2)), _unquote(m.group(3).strip())
        self.subscriptions.setdefault(target_db, []).append((sid, target))
        return _envelope([])

    # ------------------------------------------------------- SELECT sinks

    def execute_chunked(self, q: str, db: str | None = None, chunk_size: int = 10_000):
        """Generator of result envelopes (InfluxDB ``chunked=true``
        semantics) — the streaming sink, one of the three sinks of the
        one SELECT planner (``_plan_select``). A SELECT whose plan is
        one frame, or bucket-keyed frames that full-outer-join into
        one, streams through ``toLocalIterator()`` in chunks of
        ``chunk_size`` rows: driver memory is O(chunk_size) no matter
        how large the result, and the ``max_result_rows`` guard does
        not apply (streaming IS the unbounded-result path, done
        safely). Everything else is answered as one ordinary envelope:
        non-SELECT statements, INTO by the write sink (its result is a
        written count), and by the envelope sink FROM /regex/ and
        SLIMIT/SOFFSET (they need the whole series list) and plans
        whose parts cannot be joined.

        The reference streams ClickHouse rows the same way
        (row-at-a-time into the response pivot, cflux.js:792-810); this
        is that behavior with bounded memory and an explicit wire
        contract: every yielded envelope except the last carries
        ``partial: true`` (InfluxDB chunked-response shape)."""
        chunk_size = max(1, int(chunk_size))
        stmts = _split_statements(q)
        if len(stmts) == 1:
            qs = stmts[0].strip()
            if qs.upper().startswith("EXPLAIN"):
                yield self._explain(
                    qs, lambda inner: list(self._select_chunked(inner, db, chunk_size))
                )
                return
            if qs.upper().startswith("SELECT"):
                yield from self._select_chunked(qs, db, chunk_size)
                return
        yield self.execute(q, db)

    def _select_chunked(self, qs: str, db: str | None, chunk_size: int):
        """Chunked sink: the plan as ONE frame through the chunk pump
        (``_stream_part``), or one envelope from the envelope or write
        sink."""
        stmt = parse_select(qs)
        if stmt.into is not None or stmt.measurement_regex is not None or stmt.slimit or stmt.soffset:
            yield self._select(stmt, db)
            return
        store = self._stmt_store(stmt, db)
        plan = self._plan_select(stmt, store, store.read_registry())
        part = _stream_part(plan)
        if part is None:
            yield _envelope(_merge_plan(plan, self._collect(plan)))
            return
        cap = getattr(self._explain_local, "plans", None)
        if cap is not None:
            # EXPLAIN capture mode (round 10): record the frame's plan
            # at the point its rows would begin streaming; nothing
            # executes, nothing streams
            cap.append(_explain_string(_envelope_frame(part, plan.tkeys)))
            yield _envelope([])
            return

        def envelope(rows: list, partial: bool) -> dict:
            env = _envelope(
                _tag_series(rows, plan.gtags, plan.tkeys, stmt, part.columns, part.mapper)
            )
            if partial:
                env["results"][0]["partial"] = True
            return env

        # one-chunk lookahead, so the last chunk is identifiable
        rows = _envelope_frame(part, plan.tkeys).toLocalIterator()
        pending = None
        for chunk in iter(lambda: list(islice(rows, chunk_size)), []):
            if pending is not None:
                yield envelope(pending, True)
            pending = chunk
        yield _envelope([]) if pending is None else envelope(pending, False)

    def _collect(self, plan: _Plan) -> list[dict]:
        """Envelope sink for one plan: each part's bounded collect,
        partitioned into one series per tag combination."""
        series: list[dict] = []
        for part in plan.parts:
            rows = self._bounded_collect(_envelope_frame(part, plan.tkeys))
            series.extend(
                _tag_series(rows, plan.gtags, plan.tkeys, plan.stmt, part.columns, part.mapper)
            )
        return _dedup_statement_columns(series)

    def _explain(self, qs: str, sink: Callable[[str], object]) -> dict:
        """``EXPLAIN SELECT ...`` — the statement's Catalyst plan(s)
        in the envelope, one value row per plan line (InfluxDB 1.x
        grammar position; the payload here is Spark's formatted
        physical plan, which is what an operator debugging a dashboard
        query on a real cluster needs — scan pushdowns, Exchanges,
        broadcast choices). ``sink`` runs the inner SELECT through the
        sink the request would use — the envelope sink, or under
        ``chunked=true`` the drained chunked sink (round 10) — with the
        FULL planning path (parse, registry resolution, frame
        construction), and each frame is captured at the exact point
        execution would start, executing nothing. The envelope sink
        shows one labeled plan per collected frame of a multi-field
        statement; the chunked sink shows the one joined frame it would
        stream. EXPLAIN ANALYZE is rejected loudly rather than silently
        running the query."""
        inner = self._strip_explain(qs)
        self._explain_local.plans = []
        try:
            sink(inner)
        finally:
            plans = self._explain_local.plans
            self._explain_local.plans = None
        return self._explain_envelope(plans)

    @staticmethod
    def _strip_explain(qs: str) -> str:
        """Validate the EXPLAIN keyword (ANALYZE rejected loudly) and
        return the inner SELECT text."""
        m = re.match(r"\s*EXPLAIN\b\s*(ANALYZE\b\s*)?", qs, re.IGNORECASE)
        if m is None:
            # dispatch matches on startswith("EXPLAIN"), so e.g.
            # "EXPLAINX ..." lands here without the word boundary
            raise InfluxQLError("EXPLAIN expects a SELECT statement")
        if m.group(1):
            raise InfluxQLError(
                "EXPLAIN ANALYZE is not supported — use EXPLAIN (plans "
                "without execution)"
            )
        inner = qs[m.end() :]
        if not inner.upper().lstrip().startswith("SELECT"):
            raise InfluxQLError("EXPLAIN expects a SELECT statement")
        return inner

    @staticmethod
    def _explain_envelope(plans: list[str]) -> dict:
        lines: list[list[str]] = []
        for i, p in enumerate(plans):
            if len(plans) > 1:
                lines.append([f"-- frame {i + 1}/{len(plans)} --"])
            lines.extend([ln] for ln in p.rstrip().splitlines())
        return _envelope([_series("explain", ["QUERY PLAN"], lines)])

    def _select(self, stmt: SelectStmt, db: str | None) -> dict:
        """Envelope and write sinks. ``FROM /regex/`` expands here into
        one single-measurement plan per matching measurement (InfluxDB
        emits one series set per match). With INTO the plans' rows
        are written (``_select_into``); otherwise every part of every
        plan is collected (``_bounded_collect``), multi-field parts
        merge driver-side onto one column grid
        (``_merge_series_columns``), and SLIMIT/SOFFSET slice the
        series list."""
        store = self._stmt_store(stmt, db)
        reg = store.read_registry()
        subs = [stmt]
        if stmt.measurement_regex is not None:
            from dataclasses import replace as _replace

            rx = stmt.measurement_regex
            names = self._lookup(store.db, lambda r: r.measurements("=~", rx))
            subs = [
                _replace(stmt, measurement=meas, measurement_regex=None)
                for meas in names or []
            ]
        plans = (self._plan_select(sub, store, reg) for sub in subs)
        if stmt.into is not None:
            return self._select_into(stmt, plans, store, db)
        series: list[dict] = []
        plan = None
        for plan in plans:
            series.extend(self._collect(plan))
        if plan is not None:
            # one merge over every match: the column grid is global
            series = _merge_plan(plan, series)
        # SLIMIT/SOFFSET slice the series list (driver-side: one entry
        # per series, already aggregated — small by construction)
        if stmt.soffset:
            series = series[stmt.soffset :]
        if stmt.slimit is not None:
            series = series[: stmt.slimit]
        return _envelope(series)

    # ------------------------------------------------- retention policies

    def _create_retention_policy(self, qs: str, db: str | None) -> dict:
        """CREATE RETENTION POLICY name ON db DURATION <d> REPLICATION n
        [DEFAULT] — the reference only fakes SHOW (static autogen row,
        cflux.js:419-448); here policies register for real and
        ``enforce_retention_policies`` drops expired date partitions."""
        m = re.match(
            r'CREATE RETENTION POLICY\s+("?[\w-]+"?)\s+ON\s+(\S+)\s+DURATION\s+(\S+)'
            r"\s+REPLICATION\s+\d+(\s+DEFAULT)?",
            qs,
            re.IGNORECASE,
        )
        if not m:
            raise InfluxQLError(f"unparsable CREATE RETENTION POLICY: {qs!r}")
        name, target_db = _unquote(m.group(1)), _unquote(m.group(2))
        dur = 0.0 if m.group(3) in ("0", "0s", "INF", "inf") else _parse_duration(m.group(3))
        is_default = m.group(4) is not None
        pols = self.retention_policies.setdefault(target_db, {})
        if is_default:
            pols.update({k: (v, False) for k, (v, _d) in pols.items()})
        pols[name] = (dur, is_default)
        return _envelope([])

    def _show_retention_policies(self, db: str | None) -> dict:
        def fmt(dur_s: int) -> str:
            # InfluxDB's go-duration rendering: 3600 -> "1h0m0s",
            # 90 -> "1m30s", 0 -> "0s"
            if dur_s <= 0:
                return "0s"
            h, rem = divmod(dur_s, 3600)
            m, s = divmod(rem, 60)
            if h:
                return f"{h}h{m}m{s}s"
            if m:
                return f"{m}m{s}s"
            return f"{s}s"

        rows = [["autogen", "0s", "168h0m0s", 1, True]]  # reference fidelity
        for name, (dur, is_default) in sorted(self.retention_policies.get(db or "default", {}).items()):
            rows.append([name, fmt(int(dur)), "168h0m0s", 1, is_default])
            if is_default:
                rows[0][4] = False  # a registered default displaces autogen
        return _envelope(
            [_series("retention policies", ["name", "duration", "shardGroupDuration", "replicaN", "default"], rows)]
        )

    @_writes
    def enforce_retention_policies(self, db: str | None = None, now=None) -> dict[str, list[str]]:
        """Drop expired date partitions per each db's DEFAULT policy
        (duration 0 = keep forever). Returns {db: dropped partitions}.
        O(1) per partition — a directory drop, no scan or rewrite."""
        out: dict[str, list[str]] = {}
        dbs = [db] if db is not None else sorted(self.retention_policies)
        for target_db in dbs:
            for _name, (dur, is_default) in self.retention_policies.get(target_db, {}).items():
                if is_default and dur > 0:
                    out[target_db] = self.store(target_db).enforce_retention(
                        dur / 86400.0, now=now
                    )
        return out

    # ------------------------------------------------- continuous queries

    def _create_cq(self, qs: str, db: str | None) -> dict:
        """CREATE CONTINUOUS QUERY "name" ON db BEGIN SELECT ... INTO
        ... END (InfluxDB 1.x; beyond the reference). The inner
        statement is validated at registration; runs happen via
        ``run_continuous_queries``."""
        m = re.match(
            r'CREATE CONTINUOUS QUERY\s+("?[\w-]+"?)\s+ON\s+(\S+)\s+.*?BEGIN\s+(.+?)\s+END\s*$',
            qs,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise InfluxQLError(f"unparsable CREATE CONTINUOUS QUERY: {qs!r}")
        name, target_db, inner = _unquote(m.group(1)), _unquote(m.group(2).split(".")[0]), m.group(3)
        stmt = parse_select(inner)  # validates; raises loudly on bad grammar
        if stmt.into is None:
            raise InfluxQLError("continuous query must SELECT ... INTO")
        if stmt.group_by_time_s is None and any(sp.agg for sp in stmt.fields):
            raise InfluxQLError("aggregated continuous query requires GROUP BY time(N)")
        if stmt.into == ":MEASUREMENT" and (
            stmt.into_db is None or stmt.into_db == target_db
        ):
            # fail at registration, not first run (same guard as the
            # write sink, _select_into, which CQ runs also use): a
            # backreference into its own db would append aggregates
            # back into the source measurement
            raise InfluxQLError(
                "INTO :MEASUREMENT in a continuous query requires a distinct "
                'target database (INTO "tgtdb"."rp".:MEASUREMENT)'
            )
        self.continuous_queries.setdefault(target_db, {})[name] = (inner, 0)
        return _envelope([])

    def _show_cqs(self) -> dict:
        series = []
        for cq_db in sorted(self.continuous_queries):
            vals = [[n, q] for n, (q, _wm) in sorted(self.continuous_queries[cq_db].items())]
            if vals:
                series.append(_series(cq_db, ["name", "query"], vals))
        return _envelope(series)

    def _drop_cq(self, qs: str, db: str | None) -> dict:
        m = re.match(
            r'DROP CONTINUOUS QUERY\s+("?[\w-]+"?)\s+ON\s+(\S+)', qs, re.IGNORECASE
        )
        if not m:
            raise InfluxQLError(f"unparsable DROP CONTINUOUS QUERY: {qs!r}")
        name, target_db = _unquote(m.group(1)), _unquote(m.group(2).split(".")[0])
        self.continuous_queries.get(target_db, {}).pop(name, None)
        return _envelope([])

    @_writes
    def run_continuous_queries(self, db: str | None = None) -> dict[str, int]:
        """Execute registered CQs incrementally: each run materializes
        only COMPLETE buckets in [watermark, floor(max_source_ts+1,
        bucket)) and advances the watermark to that floor. Complete
        buckets never change, so reruns append no duplicates and every
        written row is final — the same append-only watermark discipline
        Structured Streaming's append mode uses. Points in the still-
        open bucket wait for the next run (InfluxDB runs CQs at bucket
        close for the same reason). Returns {cq_name: rows_written}."""
        from dataclasses import replace as _replace

        out: dict[str, int] = {}
        dbs = [db] if db is not None else sorted(self.continuous_queries)
        for cq_db in dbs:
            for name, (inner, wm) in list(self.continuous_queries.get(cq_db, {}).items()):
                stmt = parse_select(inner)
                store = self._stmt_store(stmt, cq_db)
                src = store.read_samples_or_empty()
                if stmt.measurement_regex is not None:
                    # regex-FROM CQ (round 6, the :MEASUREMENT fan-out):
                    # one shared watermark over the GLOBAL max ts of all
                    # matches — a measurement lagging behind the fastest
                    # one has its open bucket finalized early (the same
                    # late-data tradeoff InfluxDB RESAMPLE accepts)
                    src = src.filter(
                        F.col("measurement").rlike(stmt.measurement_regex)
                    )
                else:
                    src = src.filter(F.col("measurement") == stmt.measurement)
                row = src.agg(F.max("ts_ns").alias("m")).collect()[0]
                if row.m is None:
                    out[name] = 0
                    continue
                if stmt.group_by_time_s:
                    b_ns = int(stmt.group_by_time_s * 1_000_000_000)
                    off_ns = int(stmt.group_by_time_offset_s * 1e9)
                    hi = ((row.m - off_ns) // b_ns) * b_ns + off_ns  # start of open bucket
                else:
                    hi = row.m + 1  # raw copy: everything seen so far
                if hi <= wm:
                    out[name] = 0
                    continue
                run_stmt = _replace(
                    stmt,
                    time_lo_ns=max(wm, stmt.time_lo_ns or 0),
                    time_hi_ns=min(hi, stmt.time_hi_ns) if stmt.time_hi_ns else hi,
                )
                # subquery CQs (late round 7): the incremental bounds
                # must reach the LEAF scan — parse-time propagation
                # already ran, so push the run window down the chain
                # (the re-parsed levels are fresh objects, safe to
                # mutate) or every run would re-materialize all
                # history and append duplicates
                lvl = run_stmt.subquery
                while lvl is not None:
                    lvl.time_lo_ns = max(run_stmt.time_lo_ns, lvl.time_lo_ns or 0)
                    lvl.time_hi_ns = (
                        min(run_stmt.time_hi_ns, lvl.time_hi_ns)
                        if lvl.time_hi_ns
                        else run_stmt.time_hi_ns
                    )
                    lvl = lvl.subquery
                res = self._select(run_stmt, cq_db)
                out[name] = res["results"][0]["series"][0]["values"][0][1]
                self.continuous_queries[cq_db][name] = (inner, hi)
        return out

    def _select_into(
        self, stmt: SelectStmt, plans: Iterable[_Plan], store: LPStore, db: str | None
    ) -> dict:
        """Write sink: SELECT ... INTO <m> writes each plan's result
        rows back into the store as measurement <m> (InfluxDB
        downsample materialization; beyond the reference), one sample
        per non-null value (``_sample_rows``). The whole thing is ONE
        distributed plan — result frames → identity attach → parquet
        append; nothing is collected to the driver except the written
        count. Written points are indistinguishable from ingested ones
        for every downstream query path (registry rows included), which
        is exactly how InfluxDB continuous-query output behaves.

        ``FROM /regex/`` writes every match, and the ``:MEASUREMENT``
        backreference writes each source into a SAME-NAMED measurement
        of a distinct target database (``INTO "tgt"."rp".:MEASUREMENT``
        — the InfluxDB bulk-downsample idiom). A backreference without
        a distinct target db rejects loudly: with RP prefixes ignored it
        would append aggregates back into its own source measurement."""
        backref = stmt.into == ":MEASUREMENT"
        if backref and stmt.into_db in (None, stmt.db or db or "default"):
            raise InfluxQLError(
                'INTO :MEASUREMENT requires a distinct target database '
                '(INTO "tgtdb"."rp".:MEASUREMENT) — without one the '
                "downsample would append into its own source measurement"
            )
        frames = [
            f
            for plan in plans
            for f in _sample_rows(plan, plan.stmt.measurement if backref else stmt.into)
        ]
        written = 0
        if frames:
            # three-part INTO prefix targets another database's store
            # (lazily created, S5); plain INTO stays in the source store
            target = self.store(stmt.into_db) if stmt.into_db else store
            out = reduce(DataFrame.unionByName, frames)
            written = self._write_samples_or_capture(target, out)["facts"]
        return _envelope([_series("result", ["time", "written"], [[0, written]])])

    def _prepared_facts(
        self, stmt: SelectStmt, store: LPStore, reg: DataFrame | None
    ) -> tuple[DataFrame | None, list[str], list[str]]:
        """Measurement + time + tag filtering, and the GROUP BY <tag>
        broadcast join. Returns (facts, gtags, tkeys); facts is None
        when a tag grouping is requested with no registry."""
        facts = store.read_samples_or_empty().filter(F.col("measurement") == stmt.measurement)

        # F4: no time constraint at all → optional default window
        # (reference: last 300 s, cflux.js:719-726)
        if (
            self.default_window_s is not None
            and stmt.relative_s is None
            and stmt.relative_hi_s is None
            and stmt.time_lo_ns is None
            and stmt.time_hi_ns is None
        ):
            facts = facts.filter(
                F.col("ts")
                >= F.current_timestamp() - F.expr(f"INTERVAL {int(self.default_window_s)} SECONDS")
            )

        # time range (F1/F2/F3)
        if stmt.relative_s is not None:
            lo_bound = F.current_timestamp() - F.expr(f"INTERVAL {stmt.relative_s} SECONDS")
            facts = facts.filter(
                F.col("ts") >= lo_bound if stmt.relative_lo_inclusive else F.col("ts") > lo_bound
            )
        if stmt.relative_hi_s is not None:
            hi_bound = F.current_timestamp() - F.expr(f"INTERVAL {stmt.relative_hi_s} SECONDS")
            facts = facts.filter(
                F.col("ts") <= hi_bound if stmt.relative_hi_inclusive else F.col("ts") < hi_bound
            )
        if stmt.time_lo_ns is not None:
            facts = facts.filter(F.col("ts_ns") >= F.lit(stmt.time_lo_ns))
        if stmt.time_hi_ns is not None:
            facts = facts.filter(F.col("ts_ns") < F.lit(stmt.time_hi_ns))

        # tag filters via the registry (J1 broadcast join); the four
        # matcher ops are the labelParser table (cflux.js:140-148)
        # OR groups are one registry filter too, so the fact-side plan
        # is a single broadcast semi-join either way
        cond = matcher_cond(
            stmt.tag_filters, stmt.tag_or_groups, lambda key: F.element_at(F.col("tags"), key)
        )
        if cond is not None and reg is not None:
            slice_ = reg.filter(cond).select("fingerprint")
            facts = facts.join(F.broadcast(slice_.distinct()), "fingerprint", "left_semi")

        # field-value predicates (WHERE v > 0.5): InfluxDB evaluates
        # them per POINT (one series + one timestamp). Rows are stored
        # one-per-field and fingerprints include the FIELD name, so the
        # cross-field point identity is (tag set, ts): a registry-
        # derived series key (hash of the sorted tag entries, field-
        # independent) is broadcast-attached, and each predicate
        # becomes a semi-join on (series key, ts_ns) against the rows
        # of THAT field satisfying the comparison — WHERE err > 0 on
        # SELECT latency restricts latency's same-timestamp points,
        # and chaining the joins ANDs the conditions. Booleans are
        # stored as "true"/"false" strings (lineprotocol.py policy),
        # compared on message.
        if stmt.field_filters or stmt.field_or_groups:
            key = ["fingerprint", "ts_ns"]
            if reg is not None:
                facts = facts.join(F.broadcast(_fp2s(reg)), "fingerprint", "left")
                key = ["_skey", "ts_ns"]
            def _point_pred(fname, fop, fval):
                if isinstance(fval, bool):
                    c = F.col("message") == ("true" if fval else "false")
                    if fop == "!=":
                        c = ~c
                else:
                    v = F.col("value")
                    c = {
                        ">": v > fval, ">=": v >= fval, "<": v < fval,
                        "<=": v <= fval, "=": v == fval, "!=": v != fval,
                    }[fop]
                return (F.col("field") == fname) & c

            groups = [[p] for p in stmt.field_filters] + list(stmt.field_or_groups)
            for group in groups:
                # an OR group is ONE semi-join on the union of its
                # disjuncts' satisfying points; chaining the joins
                # ANDs the groups (same shape as plain field filters)
                gc = None
                for fname, fop, fval in group:
                    c = _point_pred(fname, fop, fval)
                    gc = c if gc is None else (gc | c)
                sat = facts.filter(gc).select(*key)
                facts = facts.join(sat.distinct(), key, "left_semi")
            if "_skey" in key:
                facts = facts.drop("_skey")

        # GROUP BY <tag> attaches tag values from the registry (J1
        # broadcast) and fans one output series out per tag combination
        gtags = stmt.group_by_tags
        if stmt.group_by_star:
            # GROUP BY * — every tag key the measurement's series carry
            if reg is None:
                return None, [], []
            meas = stmt.measurement
            keys = self._lookup(store.db, lambda r: r.from_measurement(meas).tag_keys())
            gtags = [k for _m, k in keys or []]
        if gtags:
            if reg is None:
                return None, [], []
            # a series lacking the tag groups under "" (InfluxDB emits
            # an empty tag value, not null)
            tag_cols = [
                F.coalesce(F.element_at(F.col("tags"), t), F.lit("")).alias(f"_t{i}")
                for i, t in enumerate(gtags)
            ]
            facts = facts.join(
                F.broadcast(reg.select("fingerprint", *tag_cols)), "fingerprint", "inner"
            )
        tkeys = [f"_t{i}" for i in range(len(gtags))]
        return facts, gtags, tkeys

    @staticmethod
    def _expand_wildcard(stmt: SelectStmt, facts: DataFrame) -> None:
        """SELECT * / agg(*): expand the wildcard to the field keys
        actually present in the prepared (measurement+time filtered)
        facts — metadata-sized collect, same cardinality SHOW FIELD
        KEYS returns. Without this the bare '*' would match no field
        and silently return empty (SURVEY §7: never silently-empty)."""
        if not any(s.name == "*" for s in stmt.fields):
            return
        fks = sorted(r.field for r in facts.select("field").distinct().collect())
        expanded: list[FieldSpec] = []
        for s in stmt.fields:
            if s.name == "*":
                for fk in fks:
                    alias = None
                    if s.agg or s.tx:
                        # InfluxDB suffixes wildcard-expanded aggregate
                        # columns with the field key even when only ONE
                        # field expands (round 6 — mean(*) over a
                        # single-field measurement is mean_<f>, not mean)
                        base = s.tx or s.agg
                        base = _DISPLAY.get(base, base)
                        alias = f"{base}_{fk}"
                    expanded.append(
                        FieldSpec(s.agg, fk, s.agg_arg, s.tx, s.tx_arg, alias)
                    )
            else:
                expanded.append(s)
        stmt.fields = expanded

    @staticmethod
    def _validate_tag_specs(stmt: SelectStmt) -> None:
        """``host::tag`` columns are legal only alongside raw fields —
        shared by the collected and chunked paths (round-6 ADVICE: the
        chunked dispatch used to skip this and silently drop the tag
        column)."""
        if not any(sp.tag for sp in stmt.fields):
            return
        if stmt.group_by_time_s is not None or any(
            sp.agg or sp.tx or sp.expr is not None for sp in stmt.fields
        ):
            raise InfluxQLError(
                "::tag columns require a raw (non-aggregated) SELECT — "
                "use GROUP BY <tag> with aggregates instead"
            )
        if all(sp.tag for sp in stmt.fields):
            raise InfluxQLError(
                "SELECT must include at least one FIELD alongside ::tag columns"
            )

    def _plan_select(self, stmt: SelectStmt, store: LPStore, reg: DataFrame | None) -> _Plan:
        """The one SELECT planner: statement → its parts, each a frame
        already ordered and sliced, for any of three sinks — the
        envelope sink (``_select``) collects them into one envelope,
        the chunked sink (``execute_chunked``) streams them through the
        chunk pump, and the write sink (``_select_into``) writes their
        rows for INTO. This is the single site that classifies SELECT
        shapes (``_select`` expands FROM /regex/ into one plan per
        match; subquery specs classify in ``_spec_frame_over``).

        Multi-field and '*' statements merge their parts onto one
        column grid. InfluxDB counts MERGED points for LIMIT/OFFSET
        (round-6 ADVICE — per-field slicing returned the wrong window
        when fields had disjoint timestamps), so a base statement's
        per-field parts run unsliced and the merged rows owe the
        slice; a subquery's parts slice per spec and the merge only
        re-caps LIMIT (idempotent)."""
        # decide the merge BEFORE _expand_wildcard rewrites stmt.fields
        # (round-7 ADVICE: a single-field '*' expansion was sliced
        # twice when the check ran after it)
        merge = len(stmt.fields) > 1 or any(sp.name == "*" for sp in stmt.fields)
        if stmt.subquery is not None:
            outer = self._subquery_outer(stmt, store, reg)
            if outer is None:
                return _Plan(stmt, [], [], [], merge, stmt.limit, None)
            # a re-selection keeps the subquery's rows: bucket-keyed
            # only when every inner field buckets and no inner tag
            # folds away
            inner_keyed = outer.series_kept and all(map(_bucketed, stmt.subquery.fields))
            multi = len(outer.specs) > 1
            parts = []
            for spec in outer.specs:
                frame, colname = self._spec_frame_over(
                    stmt, spec, outer.frame, outer.colmap, outer.tkeys, multi
                )
                parts.append(
                    _Part(
                        _order_slice(frame, outer.tkeys, stmt), colname, _as_is,
                        inner_keyed or _bucketed(spec),
                    )
                )
            return _Plan(stmt, parts, outer.gtags, outer.tkeys, merge, stmt.limit, None)

        facts, gtags, tkeys = self._prepared_facts(stmt, store, reg)
        plan = _Plan(stmt, [], gtags, tkeys, merge, stmt.limit, stmt.offset)
        if facts is None:
            return plan
        self._expand_wildcard(stmt, facts)

        def _is_plain_raw(sp: FieldSpec) -> bool:
            return (
                not sp.tag
                and sp.agg is None
                and sp.tx is None
                and (sp.expr is None or not _arith_leaves(sp.expr, "agg"))
            )

        def _is_aggregated(sp: FieldSpec) -> bool:
            return not sp.tag and not _is_plain_raw(sp)

        if any(_is_plain_raw(sp) for sp in stmt.fields) and any(
            _is_aggregated(sp) for sp in stmt.fields
        ):
            # InfluxDB 1.x: "mixing aggregate and non-aggregate queries
            # is not supported" — a silent ts-merge of a raw point
            # stream with a bucketed aggregate would misalign shapes
            raise InfluxQLError(
                "mixing aggregate and non-aggregate SELECT fields is not supported"
            )

        self._validate_tag_specs(stmt)

        if (
            len(stmt.fields) > 1
            and stmt.group_by_time_s is None
            and all(s.agg is None and s.tx is None and s.expr is None for s in stmt.fields)
            and reg is not None
        ):
            # raw multi-field: ONE point-aligned frame, merged and
            # sliced in the distributed plan (the envelope merge passes
            # its wide series through untouched)
            sel, colnames = self._raw_multi_frame(stmt, facts, gtags, tkeys, reg)
            n = len(colnames)
            return plan._replace(parts=[_Part(
                sel, colnames,
                lambda r: [
                    r.ts_ms,
                    *[pivot_ops._maybe_float(getattr(r, f"_v{i}")) for i in range(n)],
                ],
                False,
            )])

        if merge and (stmt.limit or stmt.offset):
            # the merged rows owe LIMIT/OFFSET: per-field parts run
            # unsliced (they are aggregate/transform-sized — raw
            # multi-field took the merged frame above)
            from dataclasses import replace as _stmt_replace

            stmt = _stmt_replace(stmt, limit=None, offset=None)

        parts: list[_Part] = []
        for spec in stmt.fields:
            fn, fieldname = spec.agg, spec.name
            ff = facts.filter(F.col("field") == fieldname)
            if spec.expr is not None and _arith_leaves(spec.expr, "agg"):
                # aggregate arithmetic (round 5): max(v) - min(v),
                # mean(v) * 100
                grouped = self._arith_agg_frame(stmt, spec, facts, tkeys)
                parts.append(
                    _Part(_order_slice(grouped, tkeys, stmt), spec.alias or spec.name, _as_is, True)
                )
            elif spec.expr is not None:
                # raw arithmetic (round 5): user + sys, user * 100
                if stmt.group_by_time_s is not None:
                    raise InfluxQLError(
                        "GROUP BY time() requires aggregated SELECT expressions"
                    )
                frame = self._arith_raw_frame(spec, facts, tkeys, reg)
                if frame is not None:
                    sel = frame.withColumn("val", F.col("val").cast("string"))
                    parts.append(
                        _Part(_order_slice(sel, tkeys, stmt), spec.alias or spec.name, _as_number, False)
                    )
            elif fn == "elapsed":
                parts.append(_Part(*self._elapsed_frame(stmt, spec, ff, tkeys), _as_is, False))
            elif fn in _SEL_FNS or (
                fn in ("max", "min", "first", "last", "percentile")
                and stmt.group_by_time_s is None
                and spec.tx is None
                and len(stmt.fields) == 1
            ):
                # top/bottom/sample, and the LONE ungrouped selector
                # (see _selector_frame for the InfluxDB scope rule)
                parts.append(_Part(*self._selector_frame(stmt, spec, ff, tkeys), _as_is, False))
            elif fn == "distinct":
                parts.append(_Part(*self._distinct_frame(stmt, spec, ff, tkeys), _as_is, False))
            elif (
                fn is None
                and (spec.tx in _TX_FNS or spec.tx in _TA_FNS)
                and stmt.group_by_time_s is None
            ):
                sel = self._raw_transform_frame(stmt, spec, ff, tkeys)
                colname = spec.alias or (f"{spec.tx}_{fieldname}" if len(stmt.fields) > 1 else spec.tx)
                parts.append(_Part(_order_slice(sel, tkeys, stmt), colname, _as_is, False))
            elif fn is None and stmt.group_by_time_s is None:
                if spec.tx in _MATH_FNS:
                    # pointwise math over a raw float field: string
                    # rows are skipped (InfluxDB math ignores string
                    # fields), output column named after the function
                    sel = ff.filter(F.col("value").isNotNull()).select(
                        *tkeys,
                        F.expr("ts_ns div 1000000").alias("ts_ms"),
                        F.round(_MATH_FNS[spec.tx](F.col("value"), spec.tx_arg), 6)
                        .cast("string")
                        .alias("val"),
                    )
                    colname = spec.alias or (f"{spec.tx}_{fieldname}" if len(stmt.fields) > 1 else spec.tx)
                else:
                    # raw points, string-over-float per cflux.js:795;
                    # the exact ts_ns and typed value/message ride
                    # along for the write sink's raw copy
                    sel = ff.select(
                        *tkeys,
                        # integer div — double division of epoch-ns longs
                        # (~1.7e18 > 2^53) can round and shift a ms
                        F.expr("ts_ns div 1000000").alias("ts_ms"),
                        F.coalesce(F.col("message"), F.col("value").cast("string")).alias("val"),
                        "ts_ns",
                        "value",
                        "message",
                    )
                    colname = spec.alias or fieldname
                parts.append(_Part(_order_slice(sel, tkeys, stmt), colname, _as_number, False))
            else:
                # aggregated path: default = the reference's 1-minute
                # mean (cflux.js:749); honored GROUP BY time(N)
                # generalizes it
                grouped = self._aggregated_frame(stmt, spec, ff, tkeys)
                base = spec.tx or fn or "mean"
                base = _DISPLAY.get(base, base)
                colname = spec.alias or (f"{base}_{fieldname}" if len(stmt.fields) > 1 else base)
                parts.append(_Part(_order_slice(grouped, tkeys, stmt), colname, _as_is, True))
        return plan._replace(parts=parts)

    @staticmethod
    def _arith_col(node: tuple, leaf_col) -> Column:
        """AST → Column. ``/`` uses try_divide so division by zero
        yields null under ANSI mode (InfluxDB drops the point)."""
        kind = node[0]
        if kind == "num":
            return F.lit(node[1])
        if kind == "neg":
            return -InfluxQLEngine._arith_col(node[1], leaf_col)
        if kind in ("agg", "field"):
            return leaf_col(node)
        op = node[1]
        left = InfluxQLEngine._arith_col(node[2], leaf_col)
        right = InfluxQLEngine._arith_col(node[3], leaf_col)
        if op == "+":
            return left + right
        if op == "-":
            return left - right
        if op == "*":
            return left * right
        return F.try_divide(left, right)

    def _arith_agg_frame(
        self, stmt: SelectStmt, spec: FieldSpec, facts: DataFrame, tkeys
    ) -> DataFrame:
        """Aggregate-arithmetic frame → [*tkeys, ts_ms, val]. Each
        distinct aggregate leaf computes its own bucketed frame (the
        standard _aggregated_frame path, fill deferred); frames
        full-outer-join on (tkeys, bucket) and the AST combines them
        with column arithmetic; fill() then applies to the RESULT,
        matching InfluxDB (fill shapes the output grid, not the
        operands). Same plan family as multi-field aggregates:
        scan → one agg shuffle per distinct leaf → k-way bucket join
        (bucket-keyed, AQE-sized)."""
        from dataclasses import replace as _replace

        node = spec.expr
        leaves: list[tuple] = []
        for lf in _arith_leaves(node, "agg"):
            if lf not in leaves:
                leaves.append(lf)
        nofill = _replace(stmt, fill=None)
        frames = []
        for i, (_, fn, fieldname, arg) in enumerate(leaves):
            if fn in _SEL_FNS or fn in ("distinct", "elapsed", "sample"):
                raise InfluxQLError(
                    f"{fn}() may not appear in SELECT arithmetic (point-emitting selector)"
                )
            ff = facts.filter(F.col("field") == fieldname)
            fr = self._aggregated_frame(nofill, FieldSpec(fn, fieldname, arg), ff, tkeys)
            frames.append(fr.withColumnRenamed("val", f"_v{i}"))
        joined = _join_on_bucket(frames, tkeys)
        idx = {lf: i for i, lf in enumerate(leaves)}
        val = F.round(self._arith_col(node, lambda lf: F.col(f"_v{idx[lf]}")), 6)
        grouped = joined.select(*tkeys, "ts_ms", val.alias("val"))
        grouped = self._apply_fill(grouped, stmt, tkeys, stmt.group_by_time_s or 60)
        if stmt.fill is None or stmt.fill == "none":
            # a bucket missing any operand (or dividing by zero) emits
            # nothing, matching the absent-bucket convention; fill()
            # policies above already decided what nulls become —
            # fill(null) keeps them as explicit null rows
            grouped = grouped.filter(F.col("val").isNotNull())
        return grouped

    def _raw_multi_frame(
        self, stmt: SelectStmt, facts: DataFrame, gtags, tkeys, reg
    ) -> tuple[DataFrame, list[str]]:
        """Point-aligned frame for a raw multi-field SELECT →
        (ordered+sliced DataFrame [*tkeys, ts_ms, _v0.._vN], output
        column names) — ONE merged part, so both sinks emit the same
        merged series (round-6 ADVICE: chunked used to emit per-field
        unmerged series for the same query).

        Each field's rows key on (series key, ts) — the
        registry-derived tag-set hash, field-independent — and
        full-outer-join so a point missing a field carries null in
        that column (InfluxDB's storage model reads back the whole
        point). GROUP BY tags re-attach from the registry by series
        key. String fields ride as strings (string-over-float,
        cflux.js:795); each field's typed ``_value{i}``/``_message{i}``
        and the point's ``ts_ns`` ride along for the write sink."""
        skey = _series_key()
        fp2s = _fp2s(reg)
        joined = None
        for i, spec in enumerate(stmt.fields):
            if spec.tag:
                continue
            d = (
                facts.filter(F.col("field") == spec.name)
                .join(F.broadcast(fp2s), "fingerprint")
                .select(
                    "_skey",
                    "ts_ns",
                    F.coalesce(F.col("message"), F.col("value").cast("string")).alias(
                        f"_v{i}"
                    ),
                    F.col("value").alias(f"_value{i}"),
                    F.col("message").alias(f"_message{i}"),
                )
            )
            joined = d if joined is None else joined.join(d, ["_skey", "ts_ns"], "full_outer")
        tag_specs = [(i, sp) for i, sp in enumerate(stmt.fields) if sp.tag]
        if tag_specs:
            # ::tag columns are series-level attributes: one registry
            # join per point on the series key attaches them all
            tcols = reg.select(
                skey.alias("_skey"),
                *[
                    F.element_at(F.col("tags"), sp.name).alias(f"_v{i}")
                    for i, sp in tag_specs
                ],
            ).distinct()
            joined = joined.join(F.broadcast(tcols), "_skey", "left")
        if gtags:
            tagvals = reg.select(
                skey.alias("_skey"),
                *[
                    F.coalesce(F.element_at(F.col("tags"), t), F.lit("")).alias(f"_t{i}")
                    for i, t in enumerate(gtags)
                ],
            ).distinct()
            joined = joined.join(F.broadcast(tagvals), "_skey", "left")
        typed = []
        for i, sp in enumerate(stmt.fields):
            # a ::tag column writes as a string field
            value, message = (
                (F.lit(None).cast("double"), F.col(f"_v{i}"))
                if sp.tag
                else (F.col(f"_value{i}"), F.col(f"_message{i}"))
            )
            typed += [value.alias(f"_value{i}"), message.alias(f"_message{i}")]
        sel = joined.select(
            *tkeys,
            F.expr("ts_ns div 1000000").alias("ts_ms"),
            *[F.col(f"_v{i}") for i in range(len(stmt.fields))],
            "ts_ns",
            *typed,
        )
        return _order_slice(sel, tkeys, stmt), _dedup_names([sp.alias or sp.name for sp in stmt.fields])

    def _arith_raw_frame(
        self, spec: FieldSpec, facts: DataFrame, tkeys, reg, keyed: bool = False,
    ) -> DataFrame | None:
        """Raw-point arithmetic frame → [*tkeys, ts_ms, ts_ns, val
        double] (the exact epoch-ns timestamp rides along: the write
        sink stores full precision, round 6; ``keyed=True`` returns
        [_skey, ts_ns, *tkeys, val] so a raw multi-field subquery level
        can align it on point identity, round 8).
        One field (``user * 100``) is a pointwise map. Multiple fields
        (``user + sys``) align on POINT identity — rows are stored
        one-per-field and fingerprints include the field name, so the
        cross-field key is (tag-set hash, ts): the same
        registry-derived series key the WHERE field-predicate
        machinery uses, broadcast-attached, then an inner join per
        additional field (a point missing any operand emits nothing,
        InfluxDB semantics)."""
        node = spec.expr
        fields_used: list[str] = []
        for lf in _arith_leaves(node, "field"):
            if lf[1] not in fields_used:
                fields_used.append(lf[1])
        tcols = (F.expr("ts_ns div 1000000").alias("ts_ms"), "ts_ns")
        if len(fields_used) == 1 and not keyed:
            fname = fields_used[0]
            base = facts.filter((F.col("field") == fname) & F.col("value").isNotNull())
            val = F.round(self._arith_col(node, lambda lf: F.col("value")), 6)
            # computed nulls (x/0, ln of a negative) emit no point —
            # InfluxDB binary-op semantics (round 8; previously the
            # base path emitted null rows while the subquery path
            # dropped them)
            return base.select(*tkeys, *tcols, val.alias("val")).filter(
                F.col("val").isNotNull()
            )
        if reg is None:
            return None
        fp2s = _fp2s(reg)
        joined = None
        for i, fname in enumerate(fields_used):
            d = (
                facts.filter((F.col("field") == fname) & F.col("value").isNotNull())
                .join(F.broadcast(fp2s), "fingerprint")
                .select(
                    *(tkeys if i == 0 else []),
                    "_skey",
                    "ts_ns",
                    F.col("value").alias(f"_v{i}"),
                )
            )
            joined = d if joined is None else joined.join(d, ["_skey", "ts_ns"])
        idx = {f: i for i, f in enumerate(fields_used)}
        val = F.round(self._arith_col(node, lambda lf: F.col(f"_v{idx[lf[1]]}")), 6)
        if keyed:
            return joined.select("_skey", "ts_ns", *tkeys, val.alias("val")).filter(
                F.col("val").isNotNull()
            )
        return joined.select(*tkeys, *tcols, val.alias("val")).filter(
            F.col("val").isNotNull()
        )

    def _elapsed_frame(
        self, stmt: SelectStmt, spec: FieldSpec, ff: DataFrame, tkeys
    ) -> tuple[DataFrame, str]:
        """elapsed(f[, unit]) — integer gap between consecutive points
        of a series, emitted at the later point's timestamp (InfluxDB
        semantics; default unit 1ns). A raw-point transform, not an
        aggregate: per-series window over ts_ns."""
        from cflux_spark.operators.windows import merged_window_stage

        unit_ns = max(1, int(round((spec.agg_arg or 1e-9) * 1e9)))
        # ungrouped = one merged series; segmented lag instead of a
        # single-partition window (VERDICT r4 weak #2)
        staged, w, fin = merged_window_stage(ff, keys=tkeys)
        sel = (
            fin(staged.withColumn("_dt", F.col("ts_ns") - F.lag("ts_ns").over(w)))
            .filter(F.col("_dt").isNotNull())
            .select(
                *tkeys,
                F.expr("ts_ns div 1000000").alias("ts_ms"),
                F.expr(f"_dt div {unit_ns}").alias("val"),
            )
        )
        sel = _order_slice(sel, tkeys, stmt)
        colname = spec.alias or (f"elapsed_{spec.name}" if len(stmt.fields) > 1 else "elapsed")
        return sel, colname

    def _raw_transform_frame(
        self, stmt: SelectStmt, spec: FieldSpec, ff: DataFrame, tkeys
    ) -> DataFrame:
        """derivative / non_negative_derivative / difference /
        non_negative_difference / cumulative_sum / moving_average /
        the TA family over RAW points (no inner aggregate, no GROUP BY
        time) — InfluxDB applies these per series at the points' own
        timestamps. Same per-series window shape as elapsed(); string
        fields are skipped (InfluxDB transforms ignore string fields);
        semantics mirror the bucketed-transform path in
        _aggregated_frame so ``derivative(v)`` and
        ``derivative(mean(v)) GROUP BY time`` agree on
        regularly-spaced data. Returns the unordered frame
        ``[*tkeys, ts_ms, val]`` — shared by the envelope path and
        (round 8) raw-transform subquery levels."""
        from pyspark.sql import Window as _W

        from cflux_spark.operators.windows import merged_running_sum, merged_window_stage

        base = ff.filter(F.col("value").isNotNull())
        v = F.col("value")
        if spec.tx in _TA_FNS:
            # round 7: TA transforms over raw points — per-series
            # recurrence/rolling window via operators/ta.py (grouped:
            # per-series windows + segmented scan; ungrouped: the
            # merged-series segmented machinery throughout)
            from cflux_spark.operators.ta import ta_transform

            sel = ta_transform(
                base, tkeys, "ts_ns", "value", spec.tx, int(spec.tx_arg or 0),
                warmup=spec.tx_warmup or "exponential",
            )
            sel = sel.withColumn("_v", F.round(F.col("_ta"), 6)).drop("_ta")
        elif spec.tx == "cumulative_sum" and not tkeys:
            # unbounded frame over the merged series: two-phase segment
            # prefix sum — no single-partition WindowExec over raw
            # points (VERDICT r4 weak #2)
            sel = (
                merged_running_sum(base, "value", "_cs")
                .withColumn("_v", F.round(F.col("_cs"), 6))
                .drop("_cs")
            )
        else:
            if spec.tx == "moving_average":
                n = int(spec.tx_arg or 2)
                if n < 1:
                    raise InfluxQLError(f"moving_average window must be >= 1, got {n}")
            # the row frame reaches back n-1 rows (moving_average) or
            # 1 (lag transforms) — an ungrouped frame's segmented carry
            # preserves exact merged-series semantics
            carry = (n - 1) if spec.tx == "moving_average" else 1
            staged, w, fin = merged_window_stage(base, carry_rows=carry, keys=tkeys)
            if spec.tx == "cumulative_sum":
                sel = staged.withColumn(
                    "_v", F.round(F.sum(v).over(w.rowsBetween(_W.unboundedPreceding, 0)), 6)
                )
            elif spec.tx == "moving_average":
                wm = w.rowsBetween(-(n - 1), 0)
                sel = (
                    staged.withColumn("_v", F.round(F.avg(v).over(wm), 6))
                    .withColumn("_c", F.count(v).over(wm))
                    .filter(F.col("_c") >= n)  # emit once the window holds n values
                    .drop("_c")
                )
            elif spec.tx in ("difference", "non_negative_difference"):
                sel = staged.withColumn("_v", F.round(v - F.lag(v).over(w), 6)).filter(
                    F.col("_v").isNotNull()
                )
                if spec.tx == "non_negative_difference":
                    sel = sel.filter(F.col("_v") >= 0)
            else:  # derivative / non_negative_derivative
                unit_s = spec.tx_arg if spec.tx_arg is not None else 1.0
                sel = staged.withColumn("_v", _derivative(v, "ts_ns", w, 1e9, unit_s)).filter(
                    F.col("_v").isNotNull()
                )
                if spec.tx == "non_negative_derivative":
                    sel = sel.filter(F.col("_v") >= 0)
            sel = fin(sel)
        return sel.select(
            *tkeys, F.expr("ts_ns div 1000000").alias("ts_ms"), F.col("_v").alias("val")
        )

    def _selector_frame(
        self, stmt: SelectStmt, spec: FieldSpec, ff: DataFrame, tkeys
    ) -> tuple[DataFrame, str]:
        """top(f, N) / bottom(f, N) — the N actual points per series
        (and per time bucket under GROUP BY time), keeping their own
        timestamps. Ties break toward the earlier point, as InfluxDB's
        selectors do. Partitioned rank when there are grouping keys;
        a global top-N (TakeOrdered, no single-partition window) when
        there are none.

        Also serves the LONE ungrouped max/min/first/last/percentile
        (round 7: InfluxDB returns the actual point WITH ITS ORIGINAL
        TIMESTAMP, one per series; k=1). The reference folds it into
        1-minute buckets (cflux.js:749 hard-codes toStartOfMinute).
        Scope matches InfluxDB's own rule: multiple fields, tx-wrapped
        selectors, or GROUP BY time lose point-ness and stay on the
        bucketed path. max/min order by value (nulls filtered —
        string-only points have no numeric value to select);
        first/last order by time with value-asc tiebreak at duplicate
        timestamps (deterministic; InfluxDB leaves the tie undefined).

        percentile (lone + ungrouped-time) picks the NEAREST-RANK
        point (index floor(n·p/100+0.5) in value order; < 1 yields no
        point — InfluxDB's nil): per-series rank window when grouped,
        else a value-then-point two-phase (the nearest-rank aggregate
        broadcast back onto the facts — no global window)."""
        if spec.agg == "percentile":
            return self._percentile_point_frame(stmt, spec, ff, tkeys)
        k = int(spec.agg_arg or 1)
        if k < 1:
            raise InfluxQLError(f"{spec.agg}(field, N) requires N >= 1")
        if spec.agg == "sample":
            # deterministic pseudo-random order over the point identity
            val_order = F.md5(F.concat_ws("|", F.col("fingerprint"), F.col("ts_ns"))).asc()
        elif spec.agg == "first":
            ff = ff.filter(F.col("value").isNotNull())
            val_order = F.col("ts_ns").asc()
        elif spec.agg == "last":
            ff = ff.filter(F.col("value").isNotNull())
            val_order = F.col("ts_ns").desc()
        else:
            if spec.agg in ("max", "min"):
                ff = ff.filter(F.col("value").isNotNull())
            desc = spec.agg in ("top", "max")
            val_order = F.col("value").desc() if desc else F.col("value").asc()
        parts = list(tkeys)
        if stmt.group_by_time_s:
            ff = ff.withColumn(
                "_b", _bucket_ms(stmt.group_by_time_s, stmt.group_by_time_offset_s, stmt.tz)
            )
            parts.append("_b")
        if parts:
            from pyspark.sql import Window as _W

            rn = F.row_number().over(
                _W.partitionBy(*parts).orderBy(
                    val_order, F.col("ts_ns").asc(), F.col("value").asc_nulls_last()
                )
            )
            picked = ff.withColumn("_rn", rn).filter(F.col("_rn") <= k)
        else:
            picked = ff.orderBy(
                val_order, F.col("ts_ns").asc(), F.col("value").asc_nulls_last()
            ).limit(k)
        sel = picked.select(
            *tkeys,
            F.expr("ts_ns div 1000000").alias("ts_ms"),
            F.col("value").alias("val"),
        )
        # LIMIT/OFFSET (incl. per-series under GROUP BY <tag>) applies to
        # selector output points too, like every other series builder
        sel = _order_slice(sel, tkeys, stmt)
        colname = spec.alias or (f"{spec.agg}_{spec.name}" if len(stmt.fields) > 1 else spec.agg)
        return sel, colname

    def _percentile_point_frame(
        self, stmt: SelectStmt, spec: FieldSpec, ff: DataFrame, tkeys
    ) -> tuple[DataFrame, str]:
        """Lone percentile without GROUP BY time: the ACTUAL point at
        the nearest-rank index (InfluxDB semantics — original
        timestamp, index floor(n·p/100+0.5) over value-sorted points,
        index < 1 → no point). Grouped (tags): one rank window per
        series. Ungrouped: value-then-point — the nearest-rank
        aggregate value (same expression the bucketed path uses)
        broadcast back onto the facts, earliest matching point wins;
        no global window, no driver collect. The two paths may pick
        different timestamps when the percentile VALUE is duplicated
        across points (both deterministic; InfluxDB leaves the tie
        to an unstable sort)."""
        p = (spec.agg_arg if spec.agg_arg is not None else 50) / 100.0
        ff = ff.filter(F.col("value").isNotNull())
        if tkeys:
            from pyspark.sql import Window as _W

            wo = _W.partitionBy(*tkeys).orderBy(F.col("value").asc(), F.col("ts_ns").asc())
            wa = _W.partitionBy(*tkeys)
            idx = F.floor(F.count("*").over(wa) * F.lit(p) + F.lit(0.5)).cast("int")
            picked = (
                ff.withColumn("_rn", F.row_number().over(wo))
                .withColumn("_idx", idx)
                .filter((F.col("_idx") >= 1) & (F.col("_rn") == F.col("_idx")))
            )
        else:
            pv = ff.agg(
                _agg_expr("percentile", "value", spec.agg_arg).alias("_pv")
            ).filter(F.col("_pv").isNotNull())
            picked = (
                ff.join(F.broadcast(pv), F.col("value") == F.col("_pv"))
                .orderBy(F.col("ts_ns").asc())
                .limit(1)
            )
        sel = picked.select(
            *tkeys, F.expr("ts_ns div 1000000").alias("ts_ms"), F.col("value").alias("val")
        )
        sel = _order_slice(sel, tkeys, stmt)
        colname = spec.alias or (
            f"percentile_{spec.name}" if len(stmt.fields) > 1 else "percentile"
        )
        return sel, colname

    def _distinct_frame(
        self, stmt: SelectStmt, spec: FieldSpec, ff: DataFrame, tkeys
    ) -> tuple[DataFrame, str]:
        """distinct(f) — unique field values; under GROUP BY time the
        uniqueness is per bucket (emitted at bucket start), otherwise
        InfluxDB stamps epoch 0."""
        bucket = (
            _bucket_ms(stmt.group_by_time_s, stmt.group_by_time_offset_s, stmt.tz)
            if stmt.group_by_time_s
            else F.lit(0).cast("long")
        )
        sel = (
            ff.select(*tkeys, bucket.alias("ts_ms"), F.col("value").alias("val"))
            .distinct()
            .orderBy(
                *tkeys, F.col("ts_ms").desc() if stmt.order_desc else F.col("ts_ms"), F.col("val")
            )
        )
        sel = _apply_slice(sel, tkeys, stmt)
        colname = spec.alias or (f"distinct_{spec.name}" if len(stmt.fields) > 1 else "distinct")
        return sel, colname

    def _subquery_outer(
        self, stmt: SelectStmt, store: LPStore, reg: DataFrame | None
    ) -> _OuterLevel | None:
        """The outer level of ``SELECT ... FROM (SELECT ...)`` —
        InfluxDB 1.2+ subqueries (absent in the reference; NEXT.md #7):
        the subquery's output frame with the outer WHERE applied, the
        outer GROUP BY resolved against the subquery's grouping, and
        the outer specs with '*' expanded to every output column.
        Used by the SELECT planner; None when the subquery has no data
        to frame.

        The inner statement's bucketed frame is NEVER collected: the
        outer aggregate composes onto it as another groupBy, so the
        whole thing stays one Catalyst plan (scan → inner agg shuffle →
        outer agg shuffle). The canonical Grafana shape
        ``SELECT mean(max) FROM (SELECT max(v) FROM m GROUP BY
        time(1m), host) GROUP BY time(1m)`` is one job."""
        prepared = self._subquery_frame(
            stmt.subquery, store, reg,
            want_tags=(stmt.group_by_tags, stmt.group_by_star),
        )
        if prepared is None:
            return None
        inner_df, igtags, itkeys, outputs = prepared
        inner_df = self._filter_subquery_output(inner_df, igtags, itkeys, outputs, stmt)
        ogtags = igtags if stmt.group_by_star else stmt.group_by_tags
        missing = [t for t in ogtags if t not in igtags]
        if missing:
            raise InfluxQLError(f"outer GROUP BY tag(s) {missing} not grouped in the subquery")
        okeys = [itkeys[igtags.index(t)] for t in ogtags]
        # SELECT * over a subquery re-selects every output column
        specs = list(stmt.fields)
        if any(sp.name == "*" and sp.agg is None and sp.tx is None and sp.expr is None
               for sp in specs):
            if len(specs) != 1:
                raise InfluxQLError("'*' over a subquery cannot mix with other fields")
            specs = [FieldSpec(None, name) for name, _src in outputs]
        return _OuterLevel(
            inner_df, ogtags, okeys, specs, dict(outputs), len(ogtags) == len(igtags)
        )

    def _spec_frame_over(
        self,
        stmt: SelectStmt,
        spec: FieldSpec,
        inner_df: DataFrame,
        colmap: dict[str, str],
        tkeys: list[str],
        multi: bool,
    ) -> tuple[DataFrame, str]:
        """One SELECT expression of a statement whose FROM is a
        subquery, evaluated over the subquery's output frame
        ``[*tkeys, ts_ms, <colmap values>]`` → ([*tkeys, ts_ms, val],
        envelope column name). Shared by the outer statement and
        (multi-field, round 7) middle nesting levels. Forms:

        - raw re-selection (HAVING idiom): ``SELECT mean_v FROM (...)
          WHERE mean_v > τ`` — the frame column, null rows dropped
          only when the frame is a multi-column outer join (those
          nulls are grid artifacts; a single-column fill(null) grid
          keeps its intentional nulls);
        - transform over output: ``derivative(mean_v)``;
        - aggregate (+fill, +transform): ``mean(max)``,
          ``cumulative_sum(sum(mean_v))``;
        - arithmetic over outputs (round 7): raw kind ``max - min``
          combines the frame columns pointwise per bucket row;
          aggregate kind ``mean(a_max) - mean(b_max)`` re-buckets one
          outer aggregate per distinct leaf and joins, mirroring
          _arith_agg_frame."""

        def col_of(name: str) -> str:
            if name not in colmap:
                raise InfluxQLError(
                    f"field {name!r} does not match subquery output "
                    f"{sorted(colmap) if len(colmap) > 1 else repr(next(iter(colmap)))}"
                )
            return colmap[name]

        drop_join_nulls = len(colmap) > 1
        if spec.expr is not None:
            aleaves: list[tuple] = []
            for lf in _arith_leaves(spec.expr, "agg"):
                if lf not in aleaves:
                    aleaves.append(lf)
            if aleaves:
                obucket = _bucket_ms(
                    stmt.group_by_time_s or 60, stmt.group_by_time_offset_s, stmt.tz,
                    src="ts_ms",
                )
                frames = []
                for i, (_, fn, fieldname, arg) in enumerate(aleaves):
                    if fn in _SEL_FNS or fn in ("distinct", "elapsed", "sample"):
                        raise InfluxQLError(
                            f"{fn}() may not appear in SELECT arithmetic "
                            "(point-emitting selector)"
                        )
                    agg = _agg_expr(fn, col_of(fieldname), arg, ts_col="ts_ms")
                    frames.append(
                        inner_df.groupBy(*tkeys, obucket.alias("ts_ms")).agg(
                            F.round(agg, 6).alias(f"_v{i}")
                        )
                    )
                joined = _join_on_bucket(frames, tkeys)
                idx = {lf: i for i, lf in enumerate(aleaves)}
                val = F.round(self._arith_col(spec.expr, lambda lf: F.col(f"_v{idx[lf]}")), 6)
                grouped = joined.select(*tkeys, "ts_ms", val.alias("val"))
                grouped = self._apply_fill(grouped, stmt, tkeys, stmt.group_by_time_s or 60)
                if stmt.fill is None or stmt.fill == "none":
                    grouped = grouped.filter(F.col("val").isNotNull())
                return grouped, (spec.alias or spec.name)
            if stmt.group_by_time_s is not None:
                raise InfluxQLError("GROUP BY time() over a subquery requires an aggregate")
            val = F.round(self._arith_col(spec.expr, lambda lf: F.col(col_of(lf[1]))), 6)
            grouped = inner_df.select(*tkeys, "ts_ms", val.alias("val")).filter(
                F.col("val").isNotNull()
            )
            return grouped, (spec.alias or spec.name)

        src = col_of(spec.name)
        if spec.agg is None and spec.tx is None:
            if stmt.group_by_time_s is not None:
                raise InfluxQLError("GROUP BY time() over a subquery requires an aggregate")
            grouped = inner_df.select(*tkeys, "ts_ms", F.col(src).alias("val"))
            if drop_join_nulls:
                grouped = grouped.filter(F.col("val").isNotNull())
            return grouped, (spec.alias or spec.name)
        if spec.agg is None:
            if stmt.group_by_time_s is not None and spec.tx not in _FORECAST_FNS:
                # `derivative(mean_v) ... GROUP BY time(30s)` has no
                # aggregate to re-bucket the output with — silently
                # transforming over the INNER buckets would ignore the
                # stated interval (holt_winters is the exception: its
                # forecast needs the statement's interval, which
                # _apply_tx_bucketed reads from the GROUP BY)
                raise InfluxQLError(
                    f"{spec.tx}({spec.name}) over a subquery with GROUP BY time() "
                    "requires an aggregate argument, e.g. "
                    f"{spec.tx}(mean({spec.name}))"
                )
            grouped = inner_df.select(*tkeys, "ts_ms", F.col(src).alias("val"))
            if drop_join_nulls:
                grouped = grouped.filter(F.col("val").isNotNull())
            grouped = self._apply_tx_bucketed(grouped, stmt, spec, tkeys)
            return grouped, (spec.alias or (f"{spec.tx}_{spec.name}" if multi else spec.tx))
        if (
            spec.agg in ("max", "min", "first", "last", "percentile")
            and stmt.group_by_time_s is None
            and spec.tx is None
            and len(stmt.fields) == 1
        ):
            # lone ungrouped selector over subquery output (round 8):
            # InfluxDB returns the single frame row per series group
            # AT ITS ORIGINAL (frame) timestamp — the same round-7
            # conformance rule the base path applies, which the
            # subquery path used to miss by folding into the
            # reference's default 1-minute buckets (shifting the
            # emitted timestamp and, for sub-minute frames, the row
            # count). Scope matches InfluxDB's own rule: multiple
            # fields, tx-wrapped selectors, or GROUP BY time lose
            # point-ness and stay on the bucketed path.
            return self._frame_selector(stmt, spec, inner_df, src, tkeys)
        if spec.agg in _SEL_FNS or spec.agg in ("distinct", "elapsed"):
            # point emitters over subquery output (round 8; previously
            # rejected): the FRAME ROWS are the points — top/bottom/
            # sample rank them, distinct de-dups values, elapsed gaps
            # consecutive frame timestamps
            if len(stmt.fields) != 1:
                raise InfluxQLError(
                    f"{spec.agg}() over a subquery must be the statement's only field"
                )
            return self._frame_point_emitter(stmt, spec, inner_df, src, tkeys)
        obucket = _bucket_ms(
            stmt.group_by_time_s or 60, stmt.group_by_time_offset_s, stmt.tz, src="ts_ms"
        )
        agg = _agg_expr(spec.agg, src, spec.agg_arg, ts_col="ts_ms")
        grouped = inner_df.groupBy(*tkeys, obucket.alias("ts_ms")).agg(
            F.round(agg, 6).alias("val")
        )
        # fill() composes onto the bucket grid the same way it does
        # over a base aggregate (round 5; previously rejected —
        # InfluxDB 1.2 allows it); a trailing transform composes onto
        # the filled aggregate, as in the base path (round 7)
        grouped = self._apply_fill(grouped, stmt, tkeys, stmt.group_by_time_s or 60)
        grouped = self._apply_tx_bucketed(grouped, stmt, spec, tkeys)
        fn = spec.tx or spec.agg
        return grouped, (spec.alias or (f"{fn}_{spec.name}" if multi else _DISPLAY.get(fn, fn)))

    def _frame_selector(
        self,
        stmt: SelectStmt,
        spec: FieldSpec,
        inner_df: DataFrame,
        src: str,
        tkeys: list[str],
    ) -> tuple[DataFrame, str]:
        """Lone ungrouped max/min/first/last/percentile over a
        subquery's output frame ``[*tkeys, ts_ms, src]`` → the single
        frame row per series group at its own timestamp (mirrors
        :meth:`_selector_frame` / :meth:`_percentile_point_frame`,
        which operate on raw facts; same orderings and tiebreaks, with
        the frame's ``ts_ms`` standing in for ``ts_ns``)."""
        from pyspark.sql import Window as _W

        v = F.col(src)
        base = inner_df.filter(v.isNotNull())
        if spec.agg == "percentile":
            p_colname = spec.alias or "percentile"
            if tkeys:
                wo = _W.partitionBy(*tkeys).orderBy(v.asc(), F.col("ts_ms").asc())
                wa = _W.partitionBy(*tkeys)
                p = (spec.agg_arg if spec.agg_arg is not None else 50) / 100.0
                idx = F.floor(F.count("*").over(wa) * F.lit(p) + F.lit(0.5)).cast("int")
                picked = (
                    base.withColumn("_rn", F.row_number().over(wo))
                    .withColumn("_idx", idx)
                    .filter((F.col("_idx") >= 1) & (F.col("_rn") == F.col("_idx")))
                )
            else:
                pv = base.agg(
                    _agg_expr("percentile", src, spec.agg_arg, ts_col="ts_ms").alias("_pv")
                ).filter(F.col("_pv").isNotNull())
                picked = (
                    base.join(F.broadcast(pv), v == F.col("_pv"))
                    .orderBy(F.col("ts_ms").asc())
                    .limit(1)
                )
            return picked.select(*tkeys, "ts_ms", v.alias("val")), p_colname
        if spec.agg == "first":
            order = [F.col("ts_ms").asc()]
        elif spec.agg == "last":
            order = [F.col("ts_ms").desc()]
        else:
            order = [v.desc() if spec.agg == "max" else v.asc()]
        order += [F.col("ts_ms").asc(), v.asc_nulls_last()]
        if tkeys:
            rn = F.row_number().over(_W.partitionBy(*tkeys).orderBy(*order))
            picked = base.withColumn("_rn", rn).filter(F.col("_rn") == 1)
        else:
            picked = base.orderBy(*order).limit(1)
        grouped = picked.select(*tkeys, "ts_ms", v.alias("val"))
        return grouped, (spec.alias or _DISPLAY.get(spec.agg, spec.agg))

    def _frame_point_emitter(
        self,
        stmt: SelectStmt,
        spec: FieldSpec,
        inner_df: DataFrame,
        src: str,
        tkeys: list[str],
    ) -> tuple[DataFrame, str]:
        """top/bottom/sample/distinct/elapsed over a subquery's output
        frame ``[*tkeys, ts_ms, src]`` (round 8): the frame rows ARE
        the points, so the raw-fact machinery's semantics transfer
        with ``ts_ms`` standing in for ``ts_ns`` — top/bottom rank per
        (series group[, time bucket]) keeping the rows' own
        timestamps; sample picks deterministically by md5 of the
        frame-row identity (the hash_sample discipline); distinct
        de-dups values (epoch 0 ungrouped, bucket start under GROUP BY
        time); elapsed gaps consecutive frame timestamps per series
        (ms-derived, exact since frame time is ms). Null frame values
        drop first (grid artifacts on multi-column frames; InfluxDB
        point emitters skip absent values)."""
        from pyspark.sql import Window as _W

        v = F.col(src)
        base = inner_df.filter(v.isNotNull())
        if spec.agg == "distinct":
            bucket = (
                _bucket_ms(
                    stmt.group_by_time_s, stmt.group_by_time_offset_s, stmt.tz,
                    src="ts_ms",
                )
                if stmt.group_by_time_s
                else F.lit(0).cast("long")
            )
            grouped = base.select(*tkeys, bucket.alias("ts_ms"), v.alias("val")).distinct()
            return grouped, (spec.alias or "distinct")
        if spec.agg == "elapsed":
            if stmt.group_by_time_s is not None:
                raise InfluxQLError("elapsed() does not support GROUP BY time()")
            unit_ns = max(1, int(round((spec.agg_arg or 1e-9) * 1e9)))
            from cflux_spark.operators.windows import merged_window_stage

            staged, w, fin = merged_window_stage(
                base, order_col="ts_ms", carry_rows=1, segment_span=3600 * 1000, keys=tkeys
            )
            grouped = (
                fin(
                    staged.withColumn(
                        "_dt",
                        (F.col("ts_ms") - F.lag("ts_ms").over(w)) * F.lit(1_000_000),
                    )
                )
                .filter(F.col("_dt").isNotNull())
                .select(*tkeys, "ts_ms", F.expr(f"_dt div {unit_ns}").alias("val"))
            )
            return grouped, (spec.alias or "elapsed")
        k = int(spec.agg_arg or 1)
        if k < 1:
            raise InfluxQLError(f"{spec.agg}(field, N) requires N >= 1")
        if spec.agg == "sample":
            val_order = F.md5(
                F.concat_ws("|", *[F.col(t) for t in tkeys], F.col("ts_ms"))
            ).asc()
        else:
            val_order = v.desc() if spec.agg == "top" else v.asc()
        parts = list(tkeys)
        if stmt.group_by_time_s:
            base = base.withColumn(
                "_b",
                _bucket_ms(
                    stmt.group_by_time_s, stmt.group_by_time_offset_s, stmt.tz,
                    src="ts_ms",
                ),
            )
            parts.append("_b")
        order = [val_order, F.col("ts_ms").asc(), v.asc_nulls_last()]
        if parts:
            rn = F.row_number().over(_W.partitionBy(*parts).orderBy(*order))
            picked = base.withColumn("_rn", rn).filter(F.col("_rn") <= k)
        else:
            picked = base.orderBy(*order).limit(k)
        grouped = picked.select(*tkeys, "ts_ms", v.alias("val"))
        return grouped, (spec.alias or spec.agg)

    def _filter_subquery_output(
        self,
        inner_df: DataFrame,
        igtags: list[str],
        itkeys: list[str],
        outputs: list[tuple[str, str]],
        stmt: SelectStmt,
    ) -> DataFrame:
        """WHERE clauses of a statement whose FROM is a subquery apply
        to the subquery's OUTPUT frame.

        Tag filters are legal when the tag was grouped in the inner
        level (its value is a grouping column of the frame); anything
        else has no column to filter on and rejects loudly (round 5;
        previously ALL outer tag filters were rejected). Field-value
        predicates (round 7; previously silently DROPPED — a
        never-silently-wrong violation) compare the subquery's output
        column: WHERE mean_v > τ over SELECT ... AS mean_v is
        InfluxQL's HAVING idiom. Any other field name rejects loudly."""
        def _tagcol(key: str):
            if key not in igtags:
                raise InfluxQLError(
                    f"outer tag filter on {key!r} requires the subquery to "
                    f"GROUP BY {key!r} (grouped tags: {igtags or 'none'})"
                )
            return F.col(itkeys[igtags.index(key)])

        colmap = dict(outputs)

        def _valcol(fname: str):
            if fname not in colmap:
                raise InfluxQLError(
                    f"outer field filter on {fname!r} does not match "
                    f"subquery output {sorted(colmap)}"
                )
            return F.col(colmap[fname])

        preds = [m for g in [stmt.field_filters, *stmt.field_or_groups] for m in g]
        if any(isinstance(value, bool) for _f, _op, value in preds):
            raise InfluxQLError(
                "boolean field filters do not apply to subquery "
                "output (aggregates are numeric)"
            )
        for cond in (
            matcher_cond(stmt.tag_filters, stmt.tag_or_groups, _tagcol),
            matcher_cond(stmt.field_filters, stmt.field_or_groups, _valcol),
        ):
            if cond is not None:
                inner_df = inner_df.filter(cond)
        return inner_df

    _MAX_SUBQUERY_DEPTH = 8

    def _subquery_frame(
        self,
        stmt: SelectStmt,
        store: LPStore,
        reg: DataFrame | None,
        depth: int = 1,
        want_tags: tuple[list[str], bool] | None = None,
    ) -> tuple[DataFrame, list[str], list[str], list[tuple[str, str]]] | None:
        """Recursively build the bucketed frame of a (possibly nested)
        subquery level → (frame[*tkeys, ts_ms, <cols>], gtags, tkeys,
        outputs). ``outputs`` is [(output name, frame column)] — one
        entry per SELECT field (multi-field subqueries, round 7;
        previously "exactly one aggregated field"). Multi-field frames
        full-outer-join the per-field bucket frames on
        (series key, bucket), the same plan family as base multi-field
        aggregates. Each nesting level composes as more groupBys on
        the SAME Catalyst plan — nothing is collected between levels
        (round 5: previously capped at one level). The depth cap is an
        anti-footgun, not a semantics limit."""
        if depth > self._MAX_SUBQUERY_DEPTH:
            raise InfluxQLError(
                f"subquery nesting deeper than {self._MAX_SUBQUERY_DEPTH} is not supported"
            )
        if not stmt.fields:
            raise InfluxQLError("subquery must select at least one field")
        if stmt.slimit is not None or stmt.soffset:
            # series-level slicing needs the whole-result series list;
            # ignoring it inside a level would be silently wrong
            raise InfluxQLError("SLIMIT/SOFFSET inside a subquery is not supported")

        if stmt.subquery is None:
            # tag propagation into RAW levels (round 8): a raw
            # passthrough preserves per-point series identity, so a
            # tag the ENCLOSING level groups by resolves against the
            # facts here even when this level has no GROUP BY of its
            # own — InfluxDB's `SELECT mean(u) FROM (SELECT user AS u
            # FROM cpu) GROUP BY host`. Aggregated levels keep the
            # loud requires-inner-grouping rule (folding away the tag
            # then grouping by it would be silently wrong).
            eff = stmt
            if want_tags is not None:
                wtags, wstar = want_tags
                maybe_raw = all(
                    sp.agg is None
                    and (sp.expr is None or not _arith_leaves(sp.expr, "agg"))
                    for sp in stmt.fields
                )
                if maybe_raw and (
                    wstar or any(t not in stmt.group_by_tags for t in wtags)
                ):
                    from dataclasses import replace as _dc_replace

                    if wstar or stmt.group_by_star:
                        eff = _dc_replace(stmt, group_by_star=True)
                    else:
                        merged = list(stmt.group_by_tags) + [
                            t for t in wtags if t not in stmt.group_by_tags
                        ]
                        eff = _dc_replace(stmt, group_by_tags=merged)
            stmt = eff
            facts, gtags, tkeys = self._prepared_facts(stmt, store, reg)
            if facts is None:
                return None
            if any(sp.tag for sp in stmt.fields):
                raise InfluxQLError("::tag columns inside a subquery are not supported")
            self._expand_wildcard(stmt, facts)

            def _is_plain_raw(sp: FieldSpec) -> bool:
                return (
                    sp.agg is None
                    and sp.tx is None
                    and (sp.expr is None or not _arith_leaves(sp.expr, "agg"))
                )

            raw_kind = [sp for sp in stmt.fields if _is_plain_raw(sp)]
            if raw_kind and len(raw_kind) != len(stmt.fields):
                # same fence as the base path: a silent ts-merge of a
                # raw point stream with a bucketed aggregate would
                # misalign shapes
                raise InfluxQLError(
                    "mixing aggregate and non-aggregate fields in a "
                    "subquery is not supported"
                )
            if raw_kind:
                # raw innermost subquery (round 8; previously rejected
                # with "every subquery field must aggregate"): InfluxDB
                # 1.2+ accepts SELECT mean(user) FROM (SELECT user FROM
                # cpu WHERE host='a') — a per-point passthrough frame
                # with field projection/rename + WHERE, timestamps
                # floored to ms (the subquery frame's time unit; exact
                # for any integer-ms outer bucket since boundaries are
                # integer ms)
                if stmt.group_by_time_s is not None:
                    raise InfluxQLError(
                        "GROUP BY time() requires aggregated SELECT expressions"
                    )
                return self._raw_level_frame(stmt, facts, gtags, tkeys, reg)

            tx_raw = [sp for sp in stmt.fields if sp.agg is None and sp.tx is not None]
            if tx_raw:
                # transforms over raw points inside a subquery
                # (round 8): SELECT mean(d) FROM (SELECT
                # derivative(user) AS d FROM cpu) — the same per-point
                # transform frame the base path emits, as a subquery
                # level. One field per level: a second transformed
                # field would need point-identity re-alignment of rows
                # that no longer share timestamps (loud, not silent)
                if len(stmt.fields) != 1:
                    raise InfluxQLError(
                        "a transform over raw points inside a subquery "
                        "must be the level's only field"
                    )
                if stmt.group_by_time_s is not None:
                    raise InfluxQLError(
                        f"{tx_raw[0].tx}({tx_raw[0].name}) inside a subquery with "
                        "GROUP BY time() requires an aggregate argument, e.g. "
                        f"{tx_raw[0].tx}(mean({tx_raw[0].name}))"
                    )
                sp = stmt.fields[0]
                ff = facts.filter(F.col("field") == sp.name)
                frame = self._raw_transform_frame(stmt, sp, ff, tkeys)
                frame = self._slice_level(frame, tkeys, stmt)
                return frame, gtags, tkeys, [(sp.alias or sp.tx, "val")]

            def leaf_frame(sp: FieldSpec) -> tuple[DataFrame | None, str]:
                if sp.expr is not None:
                    # aggregate arithmetic (round 5): SELECT
                    # mean(a) - mean(b) inside a subquery yields its
                    # own bucketed frame (raw arithmetic routes through
                    # _raw_level_frame above)
                    name = sp.alias or sp.name
                    return self._arith_agg_frame(stmt, sp, facts, tkeys), name
                ff = facts.filter(F.col("field") == sp.name)
                return (
                    self._aggregated_frame(stmt, sp, ff, tkeys),
                    sp.alias or sp.tx or sp.agg or "mean",
                )

            if len(stmt.fields) == 1:
                frame, name = leaf_frame(stmt.fields[0])
                if frame is None:
                    return None
                frame = self._slice_level(frame, tkeys, stmt)
                return frame, gtags, tkeys, [(name, "val")]
            return self._merge_level_frames(
                stmt, [leaf_frame(sp) for sp in stmt.fields], gtags, tkeys
            )

        child_want = (stmt.group_by_tags, stmt.group_by_star)
        if want_tags is not None and all(
            sp.agg is None and sp.tx is None and sp.expr is None for sp in stmt.fields
        ):
            # passthrough mid-levels CASCADE the enclosing level's tag
            # request down the chain (a 3-deep raw pipe still resolves
            # the outermost GROUP BY host at the facts)
            wtags, wstar = want_tags
            child_want = (
                list(stmt.group_by_tags)
                + [t for t in wtags if t not in stmt.group_by_tags],
                stmt.group_by_star or wstar,
            )
        prepared = self._subquery_frame(
            stmt.subquery, store, reg, depth + 1, want_tags=child_want
        )
        if prepared is None:
            return None
        inner_df, igtags, itkeys, outputs = prepared
        # a mid-level's own WHERE applies to ITS subquery's output —
        # previously tag filters and field-value predicates on middle
        # nesting levels were silently dropped (round 7)
        inner_df = self._filter_subquery_output(inner_df, igtags, itkeys, outputs, stmt)
        gtags = igtags if stmt.group_by_star else stmt.group_by_tags
        if want_tags is not None and all(
            sp.agg is None and sp.tx is None and sp.expr is None for sp in stmt.fields
        ):
            # a pure raw re-selection mid-level carries the tags the
            # ENCLOSING level asked for through the passthrough (same
            # round-8 propagation rule as raw innermost levels)
            wtags, wstar = want_tags
            gtags = list(gtags) + [
                t
                for t in (igtags if wstar else wtags)
                if t in igtags and t not in gtags
            ]
        missing = [t for t in gtags if t not in igtags]
        if missing:
            raise InfluxQLError(f"GROUP BY tag(s) {missing} not grouped in the inner subquery")
        tkeys = [itkeys[igtags.index(t)] for t in gtags]
        colmap = dict(outputs)
        if len(stmt.fields) == 1:
            frame, name = self._spec_frame_over(
                stmt, stmt.fields[0], inner_df, colmap, tkeys, multi=False
            )
            frame = self._slice_level(frame, tkeys, stmt)
            return frame, gtags, tkeys, [(name, "val")]
        return self._merge_level_frames(
            stmt,
            [
                self._spec_frame_over(stmt, sp, inner_df, colmap, tkeys, multi=True)
                for sp in stmt.fields
            ],
            gtags,
            tkeys,
        )

    def _raw_level_frame(
        self,
        stmt: SelectStmt,
        facts: DataFrame,
        gtags: list[str],
        tkeys: list[str],
        reg: DataFrame | None,
    ) -> tuple[DataFrame, list[str], list[str], list[tuple[str, str]]] | None:
        """Innermost RAW subquery level (round 8): every SELECT field
        is a plain field passthrough or raw arithmetic — per-point
        frame ``[*tkeys, ts_ms, <cols>]``, one output column per field.

        Multi-field levels align on POINT identity — rows are stored
        one-per-field, so the cross-field key is (tag-set hash, ts_ns),
        the same registry-derived series key raw arithmetic and WHERE
        field predicates use; a full outer join keeps a point that
        carries any of the fields (nulls elsewhere, InfluxDB raw
        multi-field semantics). Joining on bare ts_ms instead would
        cross-join distinct series that share a millisecond."""
        names: list[str] = []
        for sp in stmt.fields:
            name = sp.alias or sp.name
            if name in names:
                raise InfluxQLError(
                    f"duplicate subquery output column {name!r}: alias one (AS ...)"
                )
            names.append(name)
        if len(stmt.fields) == 1:
            sp = stmt.fields[0]
            if sp.expr is not None:
                frame = self._arith_raw_frame(sp, facts, tkeys, reg)
                if frame is None:
                    return None
            else:
                ff = facts.filter(
                    (F.col("field") == sp.name) & F.col("value").isNotNull()
                )
                frame = ff.select(
                    *tkeys,
                    F.expr("ts_ns div 1000000").alias("ts_ms"),
                    F.col("value").alias("val"),
                )
            frame = self._slice_level(frame, tkeys, stmt)
            return frame, gtags, tkeys, [(names[0], "val")]

        if reg is None:
            return None
        base = facts.join(F.broadcast(_fp2s(reg)), "fingerprint")
        joined = None
        n = len(stmt.fields)
        for i, sp in enumerate(stmt.fields):
            if sp.expr is not None:
                d = self._arith_raw_frame(sp, facts, tkeys, reg, keyed=True)
                if d is None:
                    return None
                d = d.withColumnRenamed("val", f"_c{i}")
            else:
                d = base.filter(
                    (F.col("field") == sp.name) & F.col("value").isNotNull()
                ).select("_skey", "ts_ns", *tkeys, F.col("value").alias(f"_c{i}"))
            d = d.select(
                "_skey", "ts_ns",
                *[F.col(t).alias(f"{t}__{i}") for t in tkeys],
                f"_c{i}",
            )
            joined = d if joined is None else joined.join(d, ["_skey", "ts_ns"], "full_outer")
        tsel = [
            F.coalesce(*[F.col(f"{t}__{i}") for i in range(n)]).alias(t) for t in tkeys
        ]
        frame = joined.select(
            *tsel,
            F.expr("ts_ns div 1000000").alias("ts_ms"),
            *[f"_c{i}" for i in range(n)],
        )
        frame = self._slice_level(frame, tkeys, stmt)
        return frame, gtags, tkeys, [(nm, f"_c{i}") for i, nm in enumerate(names)]

    def _merge_level_frames(
        self,
        stmt: SelectStmt,
        framed: list[tuple[DataFrame | None, str]],
        gtags: list[str],
        tkeys: list[str],
    ) -> tuple[DataFrame, list[str], list[str], list[tuple[str, str]]] | None:
        """Merge one subquery level's per-field [*tkeys, ts_ms, val]
        frames into the level's multi-column output frame: a
        (series key, bucket)-keyed full outer join, so a bucket
        carrying any field appears and the others read null there.
        Output names must be distinct — the level above references
        columns BY NAME, so `max(a), max(b)` needs aliases (loud, vs
        InfluxDB's positional max/max_1 renumbering, which an outer
        reference cannot target anyway)."""
        frames, outs = [], []
        for i, (fr, name) in enumerate(framed):
            if fr is None:
                return None
            if name in (n for n, _src in outs):
                raise InfluxQLError(
                    f"duplicate subquery output column {name!r}: alias one (AS ...)"
                )
            frames.append(fr.withColumnRenamed("val", f"_c{i}"))
            outs.append((name, f"_c{i}"))
        joined = _join_on_bucket(frames, tkeys)
        # the level's own LIMIT/OFFSET count MERGED rows (the round-6
        # multi-field lesson, applied to subquery levels)
        joined = self._slice_level(joined, tkeys, stmt)
        return joined, gtags, tkeys, outs

    def _slice_level(self, frame: DataFrame, tkeys: list[str], stmt: SelectStmt) -> DataFrame:
        """A subquery level's own LIMIT/OFFSET (late round 7;
        previously silently IGNORED — ``FROM (SELECT ... ORDER BY time
        DESC LIMIT 1)`` is the InfluxDB last-bucket idiom). Per-series
        rank slice when the level groups by tags; otherwise order by
        the level's time direction and slice globally."""
        if not (stmt.limit or stmt.offset):
            return frame
        if not tkeys:
            frame = frame.orderBy(
                F.col("ts_ms").desc() if stmt.order_desc else F.col("ts_ms")
            )
        return _apply_slice(frame, tkeys, stmt)

    def _apply_fill(
        self, grouped: DataFrame, stmt: SelectStmt, tkeys: list[str], bucket_s: float
    ) -> DataFrame:
        """fill() over a bucketed [*tkeys, ts_ms, val] frame:
        materialize missing buckets per series between its first and
        last observed bucket, then fill per policy. Shared by the
        base aggregate path and (round 5) the subquery outer level —
        outer fill() over subqueries was previously rejected."""
        if not (stmt.fill and stmt.fill != "none" and stmt.group_by_time_s):
            return grouped
        bucket_ms = int(bucket_s * 1000)
        bounds = grouped.groupBy(*tkeys).agg(
            F.min("ts_ms").alias("_lo"), F.max("ts_ms").alias("_hi")
        )
        if stmt.tz:
            # under tz() bucket labels are uniform in LOCAL wall
            # time, not UTC (a local day is 23/25 h across DST) —
            # step the grid locally, then map each point back to
            # its UTC instant
            loc = f"unix_millis(from_utc_timestamp(timestamp_millis({{c}}), '{stmt.tz}'))"
            grid = (
                f"transform(sequence({loc.format(c='_lo')}, {loc.format(c='_hi')}, "
                f"{bucket_ms}), x -> "
                f"unix_millis(to_utc_timestamp(timestamp_millis(x), '{stmt.tz}')))"
            )
            allb = bounds.select(*tkeys, F.explode(F.expr(grid)).alias("ts_ms"))
        else:
            allb = bounds.select(
                *tkeys, F.explode(F.sequence("_lo", "_hi", F.lit(bucket_ms))).alias("ts_ms")
            )
        grouped = allb.join(grouped, [*tkeys, "ts_ms"], "left")
        if stmt.fill == "previous":
            if tkeys:
                from pyspark.sql import Window as _W

                wprev = _W.partitionBy(*tkeys).orderBy("ts_ms").rowsBetween(
                    _W.unboundedPreceding, 0
                )
                grouped = grouped.withColumn(
                    "val", F.last("val", ignorenulls=True).over(wprev)
                )
            else:
                # ungrouped: the filled grid is one merged series —
                # segmented forward fill instead of a single-partition
                # window (years of 1s buckets would be ~3e7 rows in
                # one task otherwise)
                from cflux_spark.operators.windows import merged_fill_forward

                grouped = merged_fill_forward(grouped, "val", "ts_ms", 3600 * 1000)
        elif stmt.fill == "linear":
            # interpolate gap buckets between the nearest known
            # neighbors; leading/trailing nulls stay null
            # (InfluxDB fill(linear) semantics)
            if tkeys:
                from pyspark.sql import Window as _W

                wp = _W.partitionBy(*tkeys).orderBy("ts_ms").rowsBetween(
                    _W.unboundedPreceding, 0
                )
                wn = _W.partitionBy(*tkeys).orderBy("ts_ms").rowsBetween(
                    0, _W.unboundedFollowing
                )
                known = F.when(
                    F.col("val").isNotNull(),
                    F.struct(F.col("ts_ms").alias("t"), F.col("val").alias("v")),
                )
                prev = F.last(known, ignorenulls=True).over(wp)
                nxt = F.first(known, ignorenulls=True).over(wn)
                interp = prev["v"] + (nxt["v"] - prev["v"]) * (
                    (F.col("ts_ms") - prev["t"]) / (nxt["t"] - prev["t"])
                )
                grouped = grouped.withColumn(
                    "val", F.coalesce(F.col("val"), F.round(interp, 6))
                )
            else:
                # ungrouped: bidirectional segment stitch instead of a
                # single-partition window over the whole bucket grid
                from cflux_spark.operators.windows import merged_fill_linear

                grouped = merged_fill_linear(grouped, "val", "ts_ms", 3600 * 1000)
        elif stmt.fill != "null":
            try:
                grouped = grouped.fillna({"val": float(stmt.fill)})
            except ValueError as exc:
                raise InfluxQLError(f"bad fill value {stmt.fill!r}") from exc
        return grouped

    def _aggregated_frame(
        self, stmt: SelectStmt, spec: FieldSpec, ff: DataFrame, tkeys: list[str]
    ) -> DataFrame:
        """Bucketed aggregate + fill + transform for one SELECT
        expression → DataFrame of [*tkeys, ts_ms, val]."""
        fn = spec.agg
        bucket_s = stmt.group_by_time_s or 60
        bucket = _bucket_ms(bucket_s, stmt.group_by_time_offset_s, stmt.tz)
        if fn == "integral":
            # area under the curve: trapezoid between consecutive
            # points of a series, divided by the unit. Each trapezoid
            # is assigned to the bucket of its LATER point (no
            # boundary clipping — documented simplification; InfluxDB
            # splits trapezoids at bucket edges).
            from cflux_spark.operators.windows import merged_window_stage

            unit_s = spec.agg_arg or 1.0
            # ungrouped: segmented lag instead of a single-partition
            # window over all raw points (VERDICT r4 weak #2)
            staged, w, fin = merged_window_stage(ff, keys=tkeys)
            area = (
                (F.col("value") + F.lag("value").over(w))
                / 2.0
                * ((F.col("ts_ns") - F.lag("ts_ns").over(w)) / F.lit(1e9))
                / F.lit(unit_s)
            )
            grouped = (
                fin(staged.withColumn("_a", area))
                .filter(F.col("_a").isNotNull())
                .groupBy(*tkeys, bucket.alias("ts_ms"))
                .agg(F.round(F.sum("_a"), 6).alias("val"))
            )
        else:
            agg = _agg_expr(fn or "mean", "value", spec.agg_arg, ts_col="ts_ns")
            grouped = (
                # integer div — double division of ns-scale longs loses
                # precision above 2^53
                ff.groupBy(*tkeys, bucket.alias("ts_ms")).agg(F.round(agg, 6).alias("val"))
            )
        grouped = self._apply_fill(grouped, stmt, tkeys, bucket_s)
        return self._apply_tx_bucketed(grouped, stmt, spec, tkeys)

    def _apply_tx_bucketed(
        self, grouped: DataFrame, stmt: SelectStmt, spec: FieldSpec, tkeys: list[str]
    ) -> DataFrame:
        """Apply ``spec.tx`` over a bucketed ``[*tkeys, ts_ms, val]``
        frame. Shared by the base aggregate path and (round 7) the
        subquery levels — InfluxDB 1.2+ allows transform functions
        over subquery output (``SELECT derivative(mean_v) FROM
        (SELECT mean(v) AS mean_v ...)``), which previously rejected
        here."""
        bucket_s = stmt.group_by_time_s or 60
        if spec.tx in _MATH_FNS:
            # math scalars are pointwise over the aggregated value —
            # no window, stays in codegen
            grouped = grouped.withColumn(
                "val", F.round(_MATH_FNS[spec.tx](F.col("val"), spec.tx_arg), 6)
            )
        elif spec.tx in _FORECAST_FNS:
            # round 7: Holt-Winters fit + forecast over the bucketed
            # (and filled) aggregate series — forecast rows extend
            # past the last bucket at the statement's interval
            from cflux_spark.operators.forecast import holt_winters

            if stmt.group_by_time_s is None:
                raise InfluxQLError(
                    f"{spec.tx} requires GROUP BY time(...) so the "
                    "forecast interval is defined"
                )
            grouped = holt_winters(
                grouped, tkeys, "ts_ms", "val",
                int(spec.tx_arg or 0), int(spec.tx_arg2 or 0),
                interval=bucket_s * 1000,
                with_fit=(spec.tx == "holt_winters_with_fit"),
            )
            grouped = grouped.withColumn("val", F.round(F.col("_hw"), 6)).drop("_hw")
        elif spec.tx in _TA_FNS:
            # round 7: TA transform over the bucketed (and filled)
            # aggregate series — fill(0)/fill(previous) values feed
            # the recurrence like InfluxDB's; fill(null) grid rows
            # are skipped (ta_transform drops null values)
            from cflux_spark.operators.ta import ta_transform

            grouped = ta_transform(
                grouped, tkeys, "ts_ms", "val", spec.tx, int(spec.tx_arg or 0),
                warmup=spec.tx_warmup or "exponential", segment_span=3600 * 1000,
            )
            grouped = grouped.withColumn("val", F.round(F.col("_ta"), 6)).drop("_ta")
        elif spec.tx:
            # transforms run per output series, over the bucketed
            # (and filled) values, ordered by time — a per-series
            # window when grouped; ungrouped bucket frames route
            # through the segmented merged-series stage (ts_ms keyed,
            # 1h segments) for the same reason the raw-point
            # transforms do: years of fine buckets must not land in
            # one task
            from pyspark.sql import Window as _W

            from cflux_spark.operators.windows import (
                merged_running_sum,
                merged_window_stage,
            )

            if spec.tx == "moving_average":
                n = int(spec.tx_arg or 2)
                if n < 1:
                    raise InfluxQLError(f"moving_average window must be >= 1, got {n}")
            if spec.tx == "cumulative_sum" and not tkeys:
                grouped = merged_running_sum(
                    grouped, "val", "_cs", order_col="ts_ms", segment_span=3600 * 1000
                )
                return grouped.withColumn("val", F.round(F.col("_cs"), 6)).drop("_cs")
            carry = (n - 1) if spec.tx == "moving_average" else 1
            staged, wt, fin = merged_window_stage(
                grouped, order_col="ts_ms", carry_rows=carry, segment_span=3600 * 1000,
                keys=tkeys,
            )
            if spec.tx == "cumulative_sum":
                wc = wt.rowsBetween(_W.unboundedPreceding, 0)
                grouped = staged.withColumn("val", F.round(F.sum("val").over(wc), 6))
            elif spec.tx == "moving_average":
                wm = wt.rowsBetween(-(n - 1), 0)
                # InfluxDB emits the first point only once the
                # window holds n values
                grouped = (
                    staged.withColumn("_ma", F.round(F.avg("val").over(wm), 6))
                    .withColumn("_n", F.count("val").over(wm))
                    .filter(F.col("_n") >= n)
                    .withColumn("val", F.col("_ma"))
                    .drop("_ma", "_n")
                )
            elif spec.tx in ("difference", "non_negative_difference"):
                # value delta between consecutive buckets (no time
                # division — derivative's sibling, InfluxDB semantics)
                dv = F.round(F.col("val") - F.lag("val").over(wt), 6)
                grouped = staged.withColumn("_d", dv).filter(F.col("_d").isNotNull())
                if spec.tx == "non_negative_difference":
                    grouped = grouped.filter(F.col("_d") >= 0)
                grouped = grouped.withColumn("val", F.col("_d")).drop("_d")
            else:  # derivative / non_negative_derivative
                unit_s = spec.tx_arg if spec.tx_arg is not None else 1.0
                der = _derivative(F.col("val"), "ts_ms", wt, 1000.0, unit_s)
                grouped = staged.withColumn("_d", der).filter(F.col("_d").isNotNull())
                if spec.tx == "non_negative_derivative":
                    grouped = grouped.filter(F.col("_d") >= 0)
                grouped = grouped.withColumn("val", F.col("_d")).drop("_d")
            grouped = fin(grouped).drop("_t")
        return grouped


def _series_key() -> Column:
    """A registry row's field-independent series key: the hash of its
    sorted tag entries. Rows are stored one per field and fingerprints
    include the field name, so (series key, ts_ns) is the identity of
    a point across its fields."""
    return F.xxhash64(
        F.to_json(F.array_sort(F.map_entries(F.coalesce(F.col("tags"), F.create_map()))))
    )


def _fp2s(reg: DataFrame) -> DataFrame:
    """fingerprint → ``_skey`` (:func:`_series_key`), for a broadcast
    join onto fact rows."""
    return reg.select("fingerprint", _series_key().alias("_skey")).distinct()


def _derivative(v: Column, t: str, w, ticks_per_s: float, unit_s: float) -> Column:
    """derivative over window ``w``: the change in ``v`` per ``unit_s``
    seconds since the previous point, whose time ``t`` counts
    ``ticks_per_s`` ticks a second. A point that does not advance time
    emits nothing (null), as InfluxDB's derivative reducer skips it —
    a Telegraf batch resent after a timeout stores its points twice."""
    dt_s = (F.col(t) - F.lag(t).over(w)) / F.lit(ticks_per_s)
    return F.round(F.try_divide(v - F.lag(v).over(w), dt_s) * F.lit(unit_s), 6)


def _apply_slice(df: DataFrame, tkeys: list[str], stmt: SelectStmt) -> DataFrame:
    """LIMIT/OFFSET. Under GROUP BY <tag>, InfluxDB applies them PER
    SERIES (the reference strips LIMIT wholesale, cflux.js:689; round 1
    skipped it when grouping by tags) — a rank within each tag
    combination, ordered like the output, does it distributed."""
    if not (stmt.limit or stmt.offset):
        return df
    if not tkeys:
        if stmt.offset:
            df = df.offset(stmt.offset)
        if stmt.limit:
            df = df.limit(stmt.limit)
        return df
    from pyspark.sql import Window

    order = F.col("ts_ms").desc() if stmt.order_desc else F.col("ts_ms").asc()
    rn = F.row_number().over(Window.partitionBy(*tkeys).orderBy(order))
    lo = stmt.offset or 0
    cond = F.col("_rn") > lo
    if stmt.limit:
        cond = cond & (F.col("_rn") <= lo + stmt.limit)
    return df.withColumn("_rn", rn).filter(cond).drop("_rn")


def _order_slice(df: DataFrame, tkeys: list[str], stmt: SelectStmt) -> DataFrame:
    """Output order — series key, then time per ORDER BY — and the
    statement's LIMIT/OFFSET."""
    df = df.orderBy(*tkeys, F.col("ts_ms").desc() if stmt.order_desc else F.col("ts_ms"))
    return _apply_slice(df, tkeys, stmt)


def _join_on_bucket(frames: list[DataFrame], tkeys: list[str]) -> DataFrame:
    """Full-outer-join per-field frames on (series key, bucket): a
    bucket carrying any field appears, the others read null there."""
    return reduce(lambda a, b: a.join(b, [*tkeys, "ts_ms"], "full_outer"), frames)


def _bucketed(spec: FieldSpec) -> bool:
    """Whether a SELECT expression folds each (series, bucket) into
    one row: an aggregate that is not a point emitter, or arithmetic
    over aggregates."""
    if spec.expr is not None:
        return bool(_arith_leaves(spec.expr, "agg"))
    return spec.agg is not None and spec.agg not in (*_SEL_FNS, "distinct", "elapsed")


def _as_is(r) -> list:
    return [r.ts_ms, r.val]


def _as_number(r) -> list:
    # string-over-float (cflux.js:795): numeric strings read back as numbers
    return [r.ts_ms, pivot_ops._maybe_float(r.val)]


def _stream_part(plan: _Plan) -> _Part | None:
    """The plan as ONE frame for the chunk pump, or None when its
    parts cannot be joined. Merged rows take the LIMIT/OFFSET they
    owe, as ``_merge_series_columns`` applies them to the envelope; a
    multi-column part is already merged and sliced."""
    from dataclasses import replace as _replace

    owed = _replace(plan.stmt, limit=plan.limit, offset=plan.offset)
    if len(plan.parts) == 1:
        part = plan.parts[0]
        if plan.merge and isinstance(part.columns, str):
            part = part._replace(frame=_apply_slice(part.frame, plan.tkeys, owed))
        return part
    if not plan.parts or not all(p.keyed for p in plan.parts):
        return None
    joined = _join_on_bucket(
        [p.frame.withColumnRenamed("val", f"_v{i}") for i, p in enumerate(plan.parts)],
        plan.tkeys,
    )
    n = len(plan.parts)
    return _Part(
        _order_slice(joined, plan.tkeys, owed),
        _dedup_names([p.columns for p in plan.parts]),
        lambda r: [r.ts_ms, *[getattr(r, f"_v{i}") for i in range(n)]],
        True,
    )


def _sample_rows(plan: _Plan, measurement: str) -> list[DataFrame]:
    """The write sink's rows for one plan, shaped for
    ``LPStore.write_samples``: one sample per non-null result value
    (InfluxDB writes no field for a null), the output column name as
    the field key, the GROUP BY tags as the tags, and the row's time —
    exact ``ts_ns`` where a raw frame carries it. A raw copy's typed
    ``value``/``message`` (``_value{i}``/``_message{i}`` beside a
    multi-column frame's ``_v{i}``) keep the stored type; any other
    result value is a float.

    The rows come from the one frame the chunked sink streams, or
    else from each part; a plan whose merged rows still owe LIMIT/
    OFFSET and cannot be joined rejects rather than drop the slice.
    Columns unpivot through a cross join with the column indexes
    rather than a generator, so the parts' global sort is not planned
    under the store's ``repartition("date")`` (Catalyst drops a sort
    beneath a join, not beneath a generator or a union)."""
    if not plan.parts:
        return []
    part = _stream_part(plan)
    if part is not None:
        parts = [part]
    elif plan.limit or plan.offset:
        raise InfluxQLError(
            "SELECT ... INTO cannot apply LIMIT/OFFSET to the merged rows of "
            "fields that do not share buckets; write each field separately"
        )
    else:
        names = _dedup_names([p.columns for p in plan.parts])
        parts = [p._replace(columns=n) for p, n in zip(plan.parts, names)]
    if plan.gtags:
        tags = F.map_from_arrays(
            F.array(*[F.lit(t) for t in plan.gtags]), F.array(*[F.col(k) for k in plan.tkeys])
        )
    else:
        tags = F.from_json(F.lit("{}"), "map<string,string>")
    frames = []
    for part in parts:
        frame = part.frame
        if isinstance(part.columns, str):
            names, cols = [part.columns], [("val", "value", "message")]
        else:
            names = part.columns
            cols = [(f"_v{i}", f"_value{i}", f"_message{i}") for i in range(len(names))]
        values, messages = [], []
        for vcol, tvalue, tmessage in cols:
            typed = tvalue in frame.columns
            values.append(F.col(tvalue) if typed else F.col(vcol).cast("double"))
            messages.append(F.col(tmessage) if typed else F.lit(None).cast("string"))
        idx = frame.sparkSession.range(len(names)).toDF("_i")
        pick = lambda cs: F.array(*cs)[F.col("_i")]  # noqa: E731
        ts = F.col("ts_ns") if "ts_ns" in frame.columns else F.col("ts_ms") * 1_000_000
        frames.append(
            frame.crossJoin(F.broadcast(idx))
            .select(
                F.lit(measurement).alias("measurement"),
                tags.alias("tags"),
                ts.cast("long").alias("ts_ns"),
                pick([F.lit(n) for n in names]).alias("field"),
                pick(values).alias("value"),
                pick(messages).alias("message"),
            )
            .filter(F.col("value").isNotNull() | F.col("message").isNotNull())
        )
    return frames


def _envelope_frame(part: _Part, tkeys: list[str]) -> DataFrame:
    """The part's frame without the columns only the write sink reads
    (a raw frame's ``ts_ns`` and typed ``value``/``message``): Catalyst
    prunes them, so the envelope and chunked sinks run the plain plan."""
    vals = ["val"] if isinstance(part.columns, str) else [f"_v{i}" for i in range(len(part.columns))]
    return part.frame.select(*tkeys, "ts_ms", *vals)


def _merge_plan(plan: _Plan, series: list[dict]) -> list[dict]:
    """The envelope sink's merge of a multi-field plan's series."""
    if not plan.merge:
        return series
    return _merge_series_columns(
        series, plan.stmt.order_desc, plan.limit, plan.offset, slice_unmerged=True
    )


def _tag_series(rows, gtags, tkeys, stmt, colname, to_value) -> list[dict]:
    """Partition collected rows into one series per tag combination
    (InfluxDB GROUP BY <tag> emits a tagged series each). ``colname``
    may be a list for multi-column rows (raw multi-field selects).
    Zero rows → zero series (round 6): InfluxDB and the reference's
    pivot (cflux.js:792-810) both omit the series object entirely for
    empty results — a values:[] stub is a shape clients never see."""
    cols = ["time"] + (colname if isinstance(colname, list) else [colname])
    if not gtags:
        if not rows:
            return []
        return [_series(stmt.measurement, cols, [to_value(r) for r in rows])]
    buckets: dict[tuple, list] = {}
    for r in rows:
        key = tuple(getattr(r, k) for k in tkeys)
        buckets.setdefault(key, []).append(to_value(r))
    out = []
    for key in sorted(buckets, key=lambda k: tuple(str(x) for x in k)):
        s = _series(stmt.measurement, cols, buckets[key])
        s["tags"] = {t: key[i] for i, t in enumerate(gtags)}
        out.append(s)
    return out


def _dedup_names(names: list[str]) -> list[str]:
    """Suffix repeated output column names _1, _2 ... in statement
    order (InfluxDB 1.x duplicate-column rule)."""
    seen: dict[str, int] = {}
    out = []
    for c in names:
        k = seen.get(c, 0)
        seen[c] = k + 1
        out.append(c if k == 0 else f"{c}_{k}")
    return out


def _dedup_statement_columns(series: list[dict]) -> list[dict]:
    """InfluxDB 1.x disambiguates duplicate SELECT output columns by
    suffixing later occurrences (_1, _2, ...) — ``SELECT mean(v),
    mean(v)`` returns columns [time, mean, mean_1]. The engine builds
    per-field series spec-by-spec, so within one (measurement, tag
    set) group a repeated column name means a repeated statement
    column: rename in order of appearance (round 7 — previously two
    same-named fields either bypassed the column merge, emitting two
    ambiguous same-named series, or collided on one merge slot)."""
    counts: dict[tuple, dict[str, int]] = {}
    for se in series:
        cols = se.get("columns") or []
        if len(cols) != 2:
            continue
        key = (se.get("name"), tuple(sorted((se.get("tags") or {}).items())))
        c = counts.setdefault(key, {})
        n = c.get(cols[1], 0)
        c[cols[1]] = n + 1
        if n:
            se["columns"] = [cols[0], f"{cols[1]}_{n}"]
    return series


def _merge_series_columns(
    series: list[dict],
    order_desc: bool,
    limit: int | None,
    offset: int | None = None,
    slice_unmerged: bool = False,
) -> list[dict]:
    """InfluxDB 1.x merges a multi-field SELECT into ONE series per
    (measurement, tag set) with columns [time, f1, f2, ...] aligned on
    timestamp (null where a field has no point) — the engine builds
    per-field series internally, so this driver-side pass merges them
    at the envelope boundary (round 5; previously the envelope carried
    one series per field, which Grafana table panels render as
    separate frames). Only 2-column (time, value) series merge;
    duplicate timestamps within a field occupy successive row slots so
    no point is lost. LIMIT/OFFSET apply to the MERGED rows (round-6
    ADVICE: InfluxDB counts merged points, not per-field points —
    the planner defers a base statement's per-field slice here; a
    subquery's parts slice per spec so only LIMIT re-caps,
    idempotently).

    Every tag group expands onto the GLOBAL column grid — the ordered
    union of value columns across all groups (round 6): InfluxDB's
    column set is statement-derived, so a series whose tag combination
    has data for only one field still carries every column (nulls in
    the rest), exactly like the chunked path's full-outer join — a
    13-shape sweep pins the two paths equal. Wider series (raw
    multi-field, already merged and sliced in the distributed plan)
    pass through untouched."""
    all_cols: list[str] = []
    for se in series:
        if len(se.get("columns", [])) == 2 and se["columns"][1] not in all_cols:
            all_cols.append(se["columns"][1])
    groups: dict[tuple, list[dict]] = {}
    order: list[tuple] = []
    for se in series:
        key = (se.get("name"), tuple(sorted((se.get("tags") or {}).items())))
        if key not in groups:
            order.append(key)
        groups.setdefault(key, []).append(se)
    out: list[dict] = []
    idx = {c: i for i, c in enumerate(all_cols)}
    for key in order:
        ses = groups[key]
        two = [se for se in ses if len(se.get("columns", [])) == 2]
        out.extend(se for se in ses if len(se.get("columns", [])) != 2)
        if not two:
            continue
        if len(all_cols) <= 1:
            # effectively single-column output: nothing to merge
            for se in two:
                if slice_unmerged:
                    se = dict(se)
                    se["values"] = _slice_values(se["values"], limit, offset)
                out.append(se)
            continue
        slots: dict = {}
        for se in two:
            ci = idx[se["columns"][1]]
            seen: dict = {}
            for ts, v in se["values"]:
                k = seen.get(ts, 0)
                seen[ts] = k + 1
                rows = slots.setdefault(ts, [])
                while len(rows) <= k:
                    rows.append([None] * len(all_cols))
                rows[k][ci] = v
        values: list[list] = []
        for ts in sorted(slots, reverse=order_desc):
            for row in slots[ts]:
                values.append([ts, *row])
        values = _slice_values(values, limit, offset)
        merged = dict(two[0])
        merged["columns"] = ["time"] + all_cols
        merged["values"] = values
        out.append(merged)
    return out


def _explain_string(df: DataFrame) -> str:
    """Formatted physical plan of a frame (what ``df.explain
    ("formatted")`` prints), returned as a string for the EXPLAIN
    envelope; falls back to the executed-plan toString if the
    formatted explainer is unavailable."""
    try:
        return df.sparkSession._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception:  # noqa: BLE001 — diagnostics must not fail the query
        return df._jdf.queryExecution().executedPlan().toString()


def _series(name: str, columns: list[str], values: list[list]) -> dict:
    return {"name": name, "columns": columns, "values": values}


def _envelope(series: list[dict], statement_id: int = 0) -> dict:
    out: dict = {"results": [{"statement_id": statement_id}]}
    if series:
        out["results"][0]["series"] = series
    return out
