"""Elasticsearch Query-DSL -> Catalyst translation.

The reference drives ES with match_all, bool+match_phrase queries and
a terms aggregation (Bootstrap.java:196-219,272-273,293;
EsParquetWriter.java:69). This module generalizes that surface into a
declarative translator: a DSL dict becomes a Catalyst ``Column``
predicate / a ``groupBy`` plan, so Catalyst gets full pushdown and
whole-stage codegen — no per-row Python anywhere.

Analysis model: ES "analyzed text" is approximated as
lowercase alphanumeric tokenization ([a-z0-9]+), which makes
``match``/``match_phrase`` deterministic and oracle-checkable.
"""

from __future__ import annotations

import calendar
import contextlib
import datetime
import re

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from parquet_generator_spark.operators.util import broadcast_scalars

_TOKEN = "[a-z0-9]+"
_SEP = "[^a-z0-9]+"
_B_L = "(^|[^a-z0-9])"   # left token boundary
_B_R = "([^a-z0-9]|$)"   # right token boundary


def _tokens(text: str) -> list[str]:
    return re.findall(_TOKEN, text.lower())


def phrase_regex(phrase: str) -> str:
    """Regex (RE2/Java-compatible) for ES match_phrase semantics:
    the analyzed token sequence appears consecutively."""
    toks = [re.escape(t) for t in _tokens(phrase)]
    if not toks:
        return "^"  # empty phrase matches everything
    return _B_L + _SEP.join(toks) + _B_R


def match_phrase(col: Column | str, phrase: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(c).rlike(phrase_regex(phrase))


def match_any(col: Column | str, query: str) -> Column:
    """ES ``match`` (operator OR): any analyzed token present."""
    c = F.col(col) if isinstance(col, str) else col
    toks = _tokens(query)
    if not toks:
        return F.lit(True)
    pattern = _B_L + "(" + "|".join(re.escape(t) for t in toks) + ")" + _B_R
    return F.lower(c).rlike(pattern)


def token_present_duck_sql(col: str, token: str) -> str:
    """DuckDB mirror of ``token_present`` — the one place the
    analyzed-token boundary semantics (_B_L/_B_R) render to oracle
    SQL, so oracles cannot drift from the Spark predicate. The token
    is regex-escaped exactly like the Spark twin (re.escape) and
    single quotes are doubled for the SQL string literal, so tokens
    with regex metacharacters or quotes cannot diverge."""
    esc = re.escape(token).replace("'", "''")
    return f"regexp_matches(lower({col}), '{_B_L}{esc}{_B_R}')"


def token_present(col: Column | str, token: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(c).rlike(_B_L + re.escape(token) + _B_R)


def match_min_should(col: Column | str, query: str, min_match: int) -> Column:
    """ES ``match`` with ``minimum_should_match: n`` — at least n of
    the analyzed tokens present. Each token test is one JVM-side rlike;
    the count is a sum of int casts, all inside codegen."""
    toks = _tokens(query)
    if not toks or min_match <= 0:
        return F.lit(True)
    if min_match > len(toks):
        # Lucene: a minimum above the optional-clause count is
        # unsatisfiable — matches nothing
        return F.lit(False)
    hits = None
    for t in toks:
        h = token_present(col, t).cast("int")
        hits = h if hits is None else hits + h
    return hits >= F.lit(min_match)


def _wildcard_regex(pattern: str) -> str:
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def phrase_prefix_regex(phrase: str) -> str:
    """ES ``match_phrase_prefix`` (search-as-you-type): the analyzed
    token sequence appears consecutively, with the LAST token matched
    as a prefix — so no right boundary after it (any completion of
    the final token is allowed)."""
    toks = [re.escape(t) for t in _tokens(phrase)]
    if not toks:
        return "^"
    return _B_L + _SEP.join(toks)


def _token_wildcard_regex(pattern: str) -> str:
    """Token-level wildcard for query_string terms: `*`/`?` expand
    WITHIN one analyzed token (ES wildcards never cross token
    boundaries)."""
    out = []
    for ch in pattern.lower():
        if ch == "*":
            out.append("[a-z0-9]*")
        elif ch == "?":
            out.append("[a-z0-9]")
        else:
            out.append(re.escape(ch))
    return _B_L + "".join(out) + _B_R


def _qs_leaf(tok: str, fields: list[str]) -> Column:
    """One query_string / simple_query_string leaf over the field
    list: quoted -> phrase, wildcarded -> token-level wildcard,
    multi-token text -> consecutive phrase, single token -> token
    presence. ORed across fields (ES's cross-field leaf), each field
    null-safe so NOT stays three-valued-logic-proof."""
    field = None
    if not tok.startswith('"') and ":" in tok:
        field, tok = tok.split(":", 1)
    if tok.startswith('"'):
        body = tok.strip('"')
        mk = lambda f: match_phrase(f, body)  # noqa: E731
    elif "*" in tok or "?" in tok:
        pat = _token_wildcard_regex(tok)
        mk = lambda f: F.lower(F.col(f)).rlike(pat)  # noqa: E731
    else:
        toks = _tokens(tok)
        if not toks:
            return F.lit(True)
        if len(toks) > 1:
            # punctuation-joined term ("spark-sql") analyzes to a
            # consecutive token sequence, ES's match on the term
            mk = lambda f: match_phrase(f, tok)  # noqa: E731
        else:
            mk = lambda f: token_present(f, toks[0])  # noqa: E731
    flds = [field] if field else fields
    acc = F.lit(False)
    for f in flds:
        acc = acc | (F.col(f).isNotNull() & mk(f))
    return acc


# query_string tokenizer: [field:]"phrase" | ( | ) | && | || | ! |
# bare term (may be field:term / wildcarded)
_QS_TOKEN = re.compile(
    r'(?:[\w.]+:)?"[^"]*"|\(|\)|&&|\|\||!|[^\s()]+')


class _QueryStringParser:
    """Recursive-descent parser for the Lucene query_string subset:
    field:term, field:"phrase", quoted phrases, AND/OR/NOT (also
    &&/||/!), parentheses, `*`/`?` token wildcards, and
    default_operator for bare adjacency. Precedence NOT > AND > OR,
    as in Lucene's classic parser; bare adjacency binds at the
    precedence of the operator it stands for (default OR: 'a b AND c'
    = a OR (b AND c); default AND: 'a b OR c' = (a AND b) OR c).
    Produces one Catalyst boolean Column — all leaves are JVM-side
    rlike/regex predicates.

    DOCUMENTED DIVERGENCE (the fuzzy_transpositions convention):
    NOT here is a true boolean complement, so `a OR NOT b` matches
    any doc not containing b regardless of a. Lucene's classic
    parser instead lowers NOT/`-` to a PROHIBITED clause on the
    enclosing boolean (`a OR NOT b` ~ `+a -b` in practice), a
    behavior its own docs call surprising. Pure boolean semantics
    are deterministic, composable, and what the oracle mirrors;
    queries that avoid NOT directly under OR (the sane subset)
    agree between the two models."""

    def __init__(self, query: str, fields: list[str], default_op: str):
        self.toks = _QS_TOKEN.findall(query)
        self.pos = 0
        self.fields = fields
        self.default_and = default_op.upper() == "AND"

    def _peek(self) -> str | None:
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def _next(self) -> str:
        if self.pos >= len(self.toks):
            raise ValueError("query_string: unexpected end of input")
        tok = self.toks[self.pos]
        self.pos += 1
        return tok

    def parse(self) -> Column:
        out = self._or()
        if self._peek() is not None:
            raise ValueError(f"query_string: trailing {self._peek()!r}")
        return out

    def _or(self) -> Column:
        left = self._and()
        while True:
            t = self._peek()
            if t in ("OR", "||"):
                self._next()
                left = left | self._and()
            elif (not self.default_and and t is not None and t != ")"):
                # bare adjacency with default_operator OR binds at OR
                # level (the weakest), so 'a b AND c' parses as
                # a OR (b AND c) — matching Lucene's classic parser,
                # where the implicit operator has the SAME precedence
                # as its explicit spelling
                left = left | self._and()
            else:
                return left

    def _and(self) -> Column:
        left = self._unary()
        while True:
            t = self._peek()
            if t in ("AND", "&&"):
                self._next()
                left = left & self._unary()
            elif (self.default_and and t is not None
                  and t not in ("OR", "||", ")")):
                # bare adjacency with default_operator AND binds here,
                # at AND precedence
                left = left & self._unary()
            else:
                return left

    def _unary(self) -> Column:
        if self._peek() in ("NOT", "!"):
            self._next()
            return ~self._unary()
        return self._primary()

    def _primary(self) -> Column:
        tok = self._next()
        if tok == "(":
            out = self._or()
            if self._peek() != ")":
                raise ValueError("query_string: unbalanced parenthesis")
            self._next()
            return out
        return _qs_leaf(tok, self.fields)


# simple_query_string tokens: [possibly -negated] quoted phrase |
# the | and + operators | term (possibly -negated / *-suffixed)
_SQS_TOKEN = re.compile(r'-?"[^"]*"|\||\+|[^\s|+]+')


def simple_query_string_pred(query: str, fields: list[str],
                             default_op: str = "OR") -> Column:
    """Lucene SimpleQueryParser subset: terms, quoted phrases, `-`
    prefix negation, `|` (OR) and `+` (AND) infix operators, trailing
    `*` prefix match, bare adjacency = default_operator. Folded
    LEFT-TO-RIGHT with no precedence — the simple parser's documented
    behavior; invalid syntax never raises (leaves degrade to terms),
    matching ES's lenient contract."""
    acc: Column | None = None
    pending: str | None = None
    for tok in _SQS_TOKEN.findall(query):
        if tok == "|":
            pending = "OR"
            continue
        if tok == "+":
            pending = "AND"
            continue
        neg = tok.startswith("-") and len(tok) > 1
        if neg:
            tok = tok[1:]  # works for terms AND -"quoted phrases"
        if not tok.startswith('"') and tok.endswith("*") \
                and "*" not in tok[:-1] and "?" not in tok:
            prefix = _tokens(tok[:-1])
            pat = (_B_L + _SEP.join(re.escape(t) for t in prefix)) \
                if prefix else "^"
            leaf = F.lit(False)
            for f in fields:
                leaf = leaf | (F.col(f).isNotNull()
                               & F.lower(F.col(f)).rlike(pat))
        else:
            leaf = _qs_leaf(tok, fields)
        if neg:
            leaf = ~leaf
        if acc is None:
            acc = leaf
        elif (pending or default_op.upper()) == "AND":
            acc = acc & leaf
        else:
            acc = acc | leaf
        pending = None
    return acc if acc is not None else F.lit(True)


# ------------------------------------------------------------------
# IP / CIDR support (ES `ip` field type semantics)
#
# The reference's own fixture schema is SIEM sign-in data with
# client_ip / dev_address fields (office365_signin/schema.asvc), so
# IP matching is the first query a real user of that data writes.
# IPs live in plain string columns (dotted quad); every predicate
# compares the PACKED 32-bit integer, computed JVM-side from the
# string (split + arithmetic — whole-stage codegen, no UDF).

_IP4_RE = re.compile(r"^(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})$")
_CIDR_RE = re.compile(
    r"^(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})/(\d{1,2})$")


def is_ip_literal(v) -> bool:
    return isinstance(v, str) and _IP4_RE.match(v) is not None


def is_cidr_literal(v) -> bool:
    return isinstance(v, str) and _CIDR_RE.match(v) is not None


def ip_to_int(ip: str) -> int:
    m = _IP4_RE.match(ip)
    if not m:
        raise ValueError(f"not an IPv4 address: {ip!r}")
    octets = [int(g) for g in m.groups()]
    if any(o > 255 for o in octets):
        raise ValueError(f"octet out of range: {ip!r}")
    return (octets[0] << 24 | octets[1] << 16
            | octets[2] << 8 | octets[3])


def cidr_bounds(cidr: str) -> tuple[int, int]:
    """Inclusive [network, broadcast] packed-int bounds of a CIDR
    mask — '10.0.0.0/8' -> (0x0A000000, 0x0AFFFFFF)."""
    m = _CIDR_RE.match(cidr)
    if not m:
        raise ValueError(f"not a CIDR mask: {cidr!r}")
    prefix = int(m.group(5))
    if prefix > 32:
        raise ValueError(f"prefix out of range: {cidr!r}")
    base = ip_to_int(cidr.rsplit("/", 1)[0])
    span = 1 << (32 - prefix)
    lo = (base >> (32 - prefix) << (32 - prefix)) if prefix else 0
    return lo, lo + span - 1


def ip_num_col(field: str) -> Column:
    """Dotted-quad string column -> packed 32-bit integer Column
    (null for malformed strings, so predicates stay null-safe).
    Octets > 255 are malformed too: without the bound check
    '1.2.3.999' would pack to the SAME integer as '1.2.6.231' and
    silently count as that other address."""
    p = F.split(F.col(field), r"\.")
    octs = [p.getItem(i).cast("long") for i in range(4)]
    num = (octs[0] * 16777216 + octs[1] * 65536
           + octs[2] * 256 + octs[3])
    in_range = (octs[0] <= 255) & (octs[1] <= 255) \
        & (octs[2] <= 255) & (octs[3] <= 255)
    return F.when(F.col(field).rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
                  & in_range, num)


def ip_num_sql(field: str, engine: str) -> str:
    """The same packed-int computation as engine SQL text (DuckDB
    lists are 1-based; string_split vs split)."""
    if engine == "duck":
        part = "CAST(string_split({f}, '.')[{i}] AS BIGINT)"
        idx = (1, 2, 3, 4)
    else:
        part = "CAST(split({f}, '\\\\.')[{i}] AS BIGINT)"
        idx = (0, 1, 2, 3)
    terms = [part.format(f=field, i=i) for i in idx]
    bound = " AND ".join(f"{t} <= 255" for t in terms)
    packed = (f"{terms[0]} * 16777216 + {terms[1]} * 65536 + "
              f"{terms[2]} * 256 + {terms[3]}")
    # NULL (not a wrong address) for octets > 255, mirroring
    # ip_num_col's malformed-string contract
    return f"(CASE WHEN {bound} THEN {packed} END)"


def _ip_term_pred(field: str, val: str) -> Column:
    if is_cidr_literal(val):
        lo, hi = cidr_bounds(val)
        num = ip_num_col(field)
        return (F.col(field).isNotNull()
                & num.isNotNull() & (num >= lo) & (num <= hi))
    return F.col(field).isNotNull() & (F.col(field) == F.lit(val))


def ip_range_agg(df: DataFrame, field: str,
                 ranges: list[dict]) -> DataFrame:
    """ES `ip_range` bucket agg: one (key, doc_count) row per range.
    Ranges follow ES semantics — `from` inclusive, `to` EXCLUSIVE,
    either bound optional, or a CIDR `mask` (network..broadcast,
    inclusive). Buckets may overlap (a doc can count in several), so
    membership is an array of per-bucket labels compacted + exploded
    — one pass, no join; empty buckets are zero-filled from the
    (bounded, literal) bucket list, preserving ES's
    every-bucket-reported contract."""
    num = ip_num_col(field)
    structs, keys = [], []
    for r in ranges:
        if "mask" in r:
            lo, hi = cidr_bounds(r["mask"])
            key = r.get("key", r["mask"])
            cond = (num >= lo) & (num <= hi)
        else:
            key = r.get("key",
                        f"{r.get('from', '*')}-{r.get('to', '*')}")
            cond = F.lit(True)
            if "from" in r:
                cond = cond & (num >= ip_to_int(r["from"]))
            if "to" in r:
                cond = cond & (num < ip_to_int(r["to"]))
        keys.append(key)
        structs.append(F.when(F.col(field).isNotNull()
                              & num.isNotNull() & cond, F.lit(key)))
    hits = (df.select(F.explode(
        F.array_compact(F.array(*structs))).alias("key"))
        .groupBy("key").agg(F.count(F.lit(1)).alias("doc_count")))
    spark = df.sparkSession
    all_keys = spark.createDataFrame([(k,) for k in keys], "key string")
    return (all_keys.join(hits, "key", "left")
            .select("key", F.coalesce("doc_count", F.lit(0))
                    .alias("doc_count")))


def terms_lookup_filter(df: DataFrame, field: str,
                        lookup: DataFrame, path: str) -> DataFrame:
    """ES `terms` lookup (the {"index", "id", "path"} form): the
    match set comes from another index's document(s) instead of an
    inline array. Spark-first this is a LEFT SEMI join against the
    distinct lookup keys, broadcast: ES itself caps lookup terms at
    65k (index.max_terms_count), so the build side is bounded by
    contract — the 100-TB fact table streams past an in-memory hash
    set, no shuffle of the big side."""
    keys = lookup.select(F.col(path).alias("__lookup_key")).distinct()
    return df.join(F.broadcast(keys),
                   df[field] == keys["__lookup_key"], "left_semi")


# --- ES date math (anchored) ----------------------------------------
# `"2024-01-31||-2w/d"`: an anchor date, then +/-N unit steps, then an
# optional trailing /unit rounding. Resolution happens at PLAN time
# (the literal reaches the parquet scan as a plain timestamp bound, so
# row-group pruning still applies). `now`-anchored math ("now-7d/d",
# the shape nearly every real Kibana/alerting query uses) resolves
# against an INJECTABLE plan-time clock (`with plan_clock(anchor):`)
# so the scan bound is still a deterministic literal; with no clock
# injected it is refused — a plan whose pruning bound silently
# depends on wall-clock produces unreproducible scans.

_DATE_MATH_RE = re.compile(
    r"^(\d{4}-\d{2}-\d{2}(?:[T ]\d{2}:\d{2}(?::\d{2}(?:\.\d+)?)?)?)"
    r"\|\|(.*)$")
_DM_STEP_RE = re.compile(r"([+-]\d+)([yMwdhms])")
_DM_ROUND_RE = re.compile(r"/([yMwdhms])$")

_NOW_ANCHOR: datetime.datetime | None = None


@contextlib.contextmanager
def plan_clock(now: datetime.datetime | str):
    """Pin `now` for date-math resolution inside the block. The
    caller-supplied anchor becomes a plain timestamp literal at plan
    time (row-group pruning intact, plans reproducible); nesting
    restores the previous anchor on exit."""
    global _NOW_ANCHOR
    if isinstance(now, str):
        now = datetime.datetime.fromisoformat(now.replace("T", " "))
    prev = _NOW_ANCHOR
    _NOW_ANCHOR = now
    try:
        yield now
    finally:
        _NOW_ANCHOR = prev


def _is_now_math(v: str) -> bool:
    # only date-math-SHAPED now anchors ("now", "now-7d/d") count —
    # a plain string value that happens to start with the letters
    # 'now' ("nowhere") is not date math at all
    return v == "now" or bool(re.match(r"^now[+\-/]", v))


def is_date_math(v) -> bool:
    if not isinstance(v, str):
        return False
    if _is_now_math(v):
        if _NOW_ANCHOR is None:
            raise ValueError(
                "now-anchored date math needs an injected plan-time "
                "clock: wrap the query build in "
                "`with plan_clock(anchor):` (or use an explicit "
                "anchor like '2024-01-31||-7d/d') — resolving "
                "against wall-clock would make the scan bound "
                "unreproducible")
        return True
    return _DATE_MATH_RE.match(v) is not None


def _dm_add_months(dt: datetime.datetime, n: int) -> datetime.datetime:
    m = dt.month - 1 + n
    y, m = dt.year + m // 12, m % 12 + 1
    last = calendar.monthrange(y, m)[1]
    return dt.replace(year=y, month=m, day=min(dt.day, last))


def _dm_floor(dt: datetime.datetime, unit: str) -> datetime.datetime:
    if unit == "y":
        return dt.replace(month=1, day=1, hour=0, minute=0, second=0,
                          microsecond=0)
    if unit == "M":
        return dt.replace(day=1, hour=0, minute=0, second=0,
                          microsecond=0)
    if unit == "w":       # ES floors to Monday
        d0 = dt.replace(hour=0, minute=0, second=0, microsecond=0)
        return d0 - datetime.timedelta(days=d0.weekday())
    if unit == "d":
        return dt.replace(hour=0, minute=0, second=0, microsecond=0)
    if unit == "h":
        return dt.replace(minute=0, second=0, microsecond=0)
    if unit == "m":
        return dt.replace(second=0, microsecond=0)
    return dt.replace(microsecond=0)


def _dm_next(dt: datetime.datetime, unit: str) -> datetime.datetime:
    if unit == "y":
        return dt.replace(year=dt.year + 1)
    if unit == "M":
        return _dm_add_months(dt, 1)
    step = {"w": datetime.timedelta(weeks=1),
            "d": datetime.timedelta(days=1),
            "h": datetime.timedelta(hours=1),
            "m": datetime.timedelta(minutes=1),
            "s": datetime.timedelta(seconds=1)}[unit]
    return dt + step


def resolve_date_math(v: str, op: str) -> datetime.datetime:
    """Resolve an anchored date-math string for a range op, with
    ES's documented rounding directions: with a trailing /unit,
    `gte`/`lt` take the unit's start, `gt`/`lte` its last
    microsecond (so `gt` excludes and `lte` includes the whole
    rounded unit)."""
    m = _DATE_MATH_RE.match(v)
    if m:
        anchor, expr = m.groups()
        dt = datetime.datetime.fromisoformat(anchor.replace("T", " "))
    elif _is_now_math(v):
        if _NOW_ANCHOR is None:
            raise ValueError(
                "now-anchored date math needs an injected plan-time "
                "clock (`with plan_clock(anchor): ...`)")
        dt, expr = _NOW_ANCHOR, v[3:]
    else:
        raise ValueError(f"not a date-math literal: {v!r}")
    rnd = _DM_ROUND_RE.search(expr)
    if rnd:
        expr = expr[:rnd.start()]
    pos = 0
    for step in _DM_STEP_RE.finditer(expr):
        if step.start() != pos:
            raise ValueError(f"bad date-math expression: {v!r}")
        pos = step.end()
        n, unit = int(step.group(1)), step.group(2)
        if unit == "y":
            dt = _dm_add_months(dt, 12 * n)
        elif unit == "M":
            dt = _dm_add_months(dt, n)
        else:
            dt = dt + n * {"w": datetime.timedelta(weeks=1),
                           "d": datetime.timedelta(days=1),
                           "h": datetime.timedelta(hours=1),
                           "m": datetime.timedelta(minutes=1),
                           "s": datetime.timedelta(seconds=1)}[unit]
    if pos != len(expr):
        raise ValueError(f"bad date-math expression: {v!r}")
    if rnd:
        unit = rnd.group(1)
        start = _dm_floor(dt, unit)
        if op in ("gt", "lte"):
            return (_dm_next(start, unit)
                    - datetime.timedelta(microseconds=1))
        return start
    return dt


def ip_prefix_agg(df: DataFrame, field: str, prefix_length: int,
                  min_doc_count: int = 1) -> DataFrame:
    """ES 8.x `ip_prefix` bucket agg: group addresses by their
    /prefix_length network. One grouped pass over the packed-int
    representation (net = ipn >> s << s, pure arithmetic — the
    grouping key never touches strings until the final bounded
    bucket frame); buckets ordered by network address ascending,
    ES's ordering. `min_doc_count` prunes sparse buckets (ES
    default 1 = only observed networks, so no zero-fill frame is
    needed)."""
    if not 0 <= prefix_length <= 32:
        raise ValueError(f"prefix_length out of range: {prefix_length}")
    span = 1 << (32 - prefix_length)
    num = ip_num_col(field)
    net = F.floor(num / span).cast("long") * span
    dotted = F.concat_ws(
        ".",
        (F.floor(F.col("net") / 16777216).cast("long") % 256)
        .cast("string"),
        (F.floor(F.col("net") / 65536).cast("long") % 256)
        .cast("string"),
        (F.floor(F.col("net") / 256).cast("long") % 256)
        .cast("string"),
        (F.col("net") % 256).cast("string"))
    return (df.filter(num.isNotNull())
            .groupBy(net.alias("net"))
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .filter(F.col("doc_count") >= min_doc_count)
            .orderBy("net")
            .select(dotted.alias("key"),
                    F.lit(prefix_length).alias("prefix_length"),
                    "doc_count"))


def ip_prefix_agg_duck_sql(src_sql: str, field: str,
                           prefix_length: int,
                           min_doc_count: int = 1) -> str:
    """DuckDB mirror of ip_prefix_agg over a source subquery."""
    span = 1 << (32 - prefix_length)
    num = ip_num_sql(field, "duck")
    return f"""
WITH nets AS (
  SELECT CAST(floor(({num}) / {span}) AS BIGINT) * {span} AS net
  FROM {src_sql}
  WHERE regexp_matches({field}, '^\\d{{1,3}}(\\.\\d{{1,3}}){{3}}$')),
b AS (
  SELECT net, count(*) AS doc_count FROM nets GROUP BY net
  HAVING count(*) >= {min_doc_count})
SELECT concat_ws('.',
         CAST(floor(net / 16777216) AS BIGINT) % 256,
         CAST(floor(net / 65536) AS BIGINT) % 256,
         CAST(floor(net / 256) AS BIGINT) % 256,
         net % 256) AS key,
       {prefix_length} AS prefix_length,
       doc_count
FROM b ORDER BY net
"""


# ------------------------------------------------------------------
# Positional proximity (`intervals` query; `span_near` with >2
# clauses)
#
# EXACT multi-clause proximity is not expressible as one regex: the
# gap budget is SHARED across clauses, while a regex repeat bound is
# per-gap (t1 (gap){0,g} t2 (gap){0,g} t3 admits 2g total). So these
# compile to nested array higher-order functions over per-term
# token-position lists: split the analyzed text once, collect each
# term's positions, and existentially search for a chain within the
# span budget. All JVM-side (no UDF, no join, no shuffle); position
# lists are per-row and tiny, so the nested scan is O(prod |P_i|)
# over single-digit lists.


def _positions_sql(field: str, term: str, engine: str) -> str:
    """SQL text for the list of token positions of `term` in the
    analyzed (lowercased, non-alnum-split) text of `field`. Interior
    separators always collapse to ONE split point, so positions are
    true token indices on both engines (a leading empty token shifts
    every position equally — gap arithmetic is unaffected)."""
    t = term.replace("'", "''")
    if engine == "duck":
        toks = f"string_split_regex(lower({field}), '[^a-z0-9]+')"
        return (f"list_filter(range(1, len({toks}) + 1), "
                f"_i -> {toks}[_i] = '{t}')")
    toks = f"split(lower({field}), '[^a-z0-9]+')"
    return (f"filter(transform({toks}, (_t, _i) -> "
            f"IF(_t = '{t}', _i, -1)), _p -> _p >= 0)")


def span_not_pred_sql(field: str, include_term: str,
                      exclude_term: str, pre: int, post: int,
                      engine: str = "spark") -> str:
    """Lucene ``span_not``: SOME occurrence of the include term has
    no exclude-term occurrence within ``pre`` tokens before or
    ``post`` tokens after it. Pure analyzed-position arithmetic
    (same machinery as span_near/span_first) — a nested list lambda,
    no UDF, no explode."""
    pinc = _positions_sql(field, include_term.lower(), engine)
    pexc = _positions_sql(field, exclude_term.lower(), engine)
    if engine == "duck":
        return (f"len(list_filter({pinc}, _p -> "
                f"len(list_filter({pexc}, _q -> "
                f"_q >= _p - {pre} AND _q <= _p + {post})) = 0)) > 0")
    return (f"exists({pinc}, _p -> NOT exists({pexc}, "
            f"_q -> _q >= _p - {pre} AND _q <= _p + {post}))")


def span_first_pred_sql(field: str, term: str, end: int,
                        engine: str = "spark") -> str:
    """`span_first`: the term must occur within the first ``end``
    token positions (Lucene counts 0-based, so a match needs
    0-based pos < end). Same analyzed-position machinery as
    span_near — a narrow map over the token array, no UDF. Both
    engines tokenize identically, so any leading-empty-token shift
    cancels cross-engine."""
    plist = _positions_sql(field, term, engine)
    if engine == "duck":
        # duck positions are 1-based: 1-based p <= end <=> 0-based < end
        return f"len(list_filter({plist}, _p -> _p <= {end})) > 0"
    return f"exists({plist}, _p -> _p < {end})"


def proximity_pred_sql(field: str, terms: list[str],
                       max_gaps: int | None, ordered: bool,
                       engine: str = "spark") -> str:
    """Boolean SQL: the analyzed terms all appear within a window of
    len(terms) + max_gaps token positions, in order or any order.
    `max_gaps` counts unmatched positions inside the window (the ES
    `intervals.match.max_gaps` / Lucene `span_near.slop` contract);
    None = unlimited (ES max_gaps: -1). Exact for ANY clause count:
    an interval of width w containing the terms exists iff SOME
    choice of one position per term (all distinct; increasing when
    ordered) spans <= w, so the existential nest needs no interval
    minimization."""
    n = len(terms)
    if n < 1:
        raise ValueError("proximity: at least one term required")
    pos = [_positions_sql(field, t.lower(), engine) for t in terms]

    def ex(plist: str, var: str, cond: str) -> str:
        if engine == "duck":
            return f"len(list_filter({plist}, {var} -> {cond})) > 0"
        return f"exists({plist}, {var} -> {cond})"

    if n == 1 or max_gaps is None:
        final = "true"
    elif ordered:
        final = f"_p{n - 1} - _p0 <= {n - 1 + max_gaps}"
    else:
        allp = ", ".join(f"_p{j}" for j in range(n))
        final = (f"greatest({allp}) - least({allp}) "
                 f"<= {n - 1 + max_gaps}")
    conds: list[list[str]] = []
    for k in range(n):
        parts: list[str] = []
        if k > 0:
            if ordered:
                parts.append(f"_p{k} > _p{k - 1}")
            else:
                # distinct positions: matters only for repeated query
                # terms, cheap to state always
                parts.extend(f"_p{k} != _p{j}" for j in range(k))
        conds.append(parts)
    body = " AND ".join(conds[n - 1] + [final])
    expr = ex(pos[n - 1], f"_p{n - 1}", body)
    for k in range(n - 2, -1, -1):
        body = " AND ".join(conds[k] + [expr])
        expr = ex(pos[k], f"_p{k}", body)
    return expr


def _intervals_pred(field: str, rule: dict) -> Column:
    """One ES `intervals` rule -> boolean Column. Supports the
    `match` source (ordered/unordered multi-term proximity with
    max_gaps) and the `any_of` combinator (existence of ANY source
    interval == boolean OR). `all_of` is refused: its semantics need
    interval-level minimization and non-overlap accounting, not a
    boolean AND — compose `match` rules or use span_near."""
    if "match" in rule:
        m = rule["match"]
        terms = _tokens(m["query"])
        if not terms:
            return F.lit(True)
        mg = int(m.get("max_gaps", -1))
        pred = proximity_pred_sql(
            field, terms, None if mg < 0 else mg,
            bool(m.get("ordered", False)))
        return F.col(field).isNotNull() & F.expr(pred)
    if "any_of" in rule:
        acc = F.lit(False)
        for sub in rule["any_of"]["intervals"]:
            acc = acc | _intervals_pred(field, sub)
        return acc
    if "all_of" in rule:
        raise ValueError(
            "intervals: all_of needs interval-level minimization "
            "(non-overlapping sub-intervals), which a boolean AND "
            "cannot express — compose match rules or use span_near")
    raise ValueError(f"intervals: unsupported rule {set(rule)}")


def translate_query(q: dict | None) -> Column:
    """DSL query dict -> boolean Column.

    Every leaf evaluates null-safely to TRUE/FALSE, never NULL: in ES
    a document with a missing field simply doesn't match the leaf, so
    under ``must_not`` it MUST come back. Spark's three-valued logic
    would propagate NULL through the negation and drop it. The
    ``IsNotNull AND pred`` shape keeps leaves pushdown-friendly
    (And(IsNotNull, EqualTo/In/Range/StringStartsWith) all reach the
    parquet scan).
    """
    if not q:
        return F.lit(True)
    if len(q) != 1:
        raise ValueError(f"query must have one top-level key, got {list(q)}")
    kind, body = next(iter(q.items()))

    if kind == "match_all":
        return F.lit(True)
    if kind == "term":
        field, val = _field_value(body, "value")
        if is_cidr_literal(val):
            # ES ip-field semantics: a CIDR term matches the subnet
            return _ip_term_pred(field, val)
        return F.col(field).isNotNull() & (F.col(field) == F.lit(val))
    if kind == "terms":
        field, vals = next(iter(body.items()))
        vals = list(vals)
        if any(is_cidr_literal(v) for v in vals):
            acc = F.lit(False)
            for v in vals:
                acc = acc | _ip_term_pred(field, v)
            return acc
        return F.col(field).isNotNull() & F.col(field).isin(vals)
    if kind == "range":
        field, conds = next(iter(body.items()))
        col = F.col(field)
        if any(is_ip_literal(v) for v in conds.values()):
            # range over an ip field compares the packed integer, so
            # '9.255.255.255' < '10.0.0.0' (dotted-string order would
            # say otherwise)
            col = ip_num_col(field)
            conds = {op: ip_to_int(v) for op, v in conds.items()}
        out = col.isNotNull()
        ops = {"gt": col.__gt__, "gte": col.__ge__,
               "lt": col.__lt__, "lte": col.__le__}
        for op, v in conds.items():
            if op not in ops:
                raise ValueError(f"unsupported range op {op!r}")
            if is_date_math(v):
                v = resolve_date_math(v, op)
            out = out & ops[op](F.lit(v))
        return out
    if kind == "ids":
        # ES matches the _id metadata field; parquet rows have no
        # hidden _id, so the key column is named explicitly.
        field = body.get("field")
        if not field:
            raise ValueError(
                "ids query needs an explicit 'field' naming the key "
                "column (parquet rows have no _id metadata)")
        vals = list(body["values"])
        return F.col(field).isNotNull() & F.col(field).isin(vals)
    if kind == "exists":
        return F.col(body["field"]).isNotNull()
    if kind == "prefix":
        field, val = _field_value(body, "value")
        return F.col(field).isNotNull() & F.col(field).startswith(val)
    if kind == "wildcard":
        field, val = _field_value(body, "value")
        return (F.col(field).isNotNull()
                & F.col(field).rlike(_wildcard_regex(val)))
    if kind == "match":
        field, spec = next(iter(body.items()))
        if isinstance(spec, dict):
            val = spec["query"]
            operator = spec.get("operator", "or")
            msm = spec.get("minimum_should_match")
            analyzer_name = spec.get("analyzer")
        else:
            val, operator, msm, analyzer_name = spec, "or", None, None
        nn = F.col(field).isNotNull()
        if analyzer_name is not None:
            from parquet_generator_spark.operators.analyzers import (
                analyzed_match,
                get_analyzer,
            )
            return nn & analyzed_match(
                field, val, get_analyzer(analyzer_name),
                operator=operator, minimum_should_match=msm)
        toks = _tokens(val)
        if operator == "and":
            cond = F.lit(True)
            for t in toks:
                cond = cond & token_present(field, t)
            return nn & cond
        if msm is not None:
            return nn & match_min_should(field, val, int(msm))
        return nn & match_any(field, val)
    if kind == "match_phrase":
        field, val = _field_value(body, "query")
        spec = body[field]
        if isinstance(spec, dict) and spec.get("analyzer"):
            from parquet_generator_spark.operators.analyzers import (
                analyzed_match_phrase,
                get_analyzer,
            )
            return (F.col(field).isNotNull()
                    & analyzed_match_phrase(
                        field, val, get_analyzer(spec["analyzer"])))
        return F.col(field).isNotNull() & match_phrase(field, val)
    if kind == "match_phrase_prefix":
        field, val = _field_value(body, "query")
        return (F.col(field).isNotNull()
                & F.lower(F.col(field)).rlike(phrase_prefix_regex(val)))
    if kind == "query_string":
        fields = body.get("fields") or (
            [body["default_field"]] if "default_field" in body else None)
        if not fields:
            raise ValueError("query_string needs fields/default_field "
                             "(no index mapping to infer them from)")
        return _QueryStringParser(
            body["query"], fields,
            body.get("default_operator", "OR")).parse()
    if kind == "simple_query_string":
        fields = body.get("fields") or (
            [body["default_field"]] if "default_field" in body else None)
        if not fields:
            raise ValueError("simple_query_string needs fields/"
                             "default_field")
        return simple_query_string_pred(
            body["query"], fields, body.get("default_operator", "OR"))
    if kind == "constant_score":
        # matching is the wrapped filter's; the constant enters only
        # through score_query
        return translate_query(body["filter"])
    if kind == "dis_max":
        acc = F.lit(False)
        for clause in body["queries"]:
            acc = acc | translate_query(clause)
        return acc
    if kind == "boosting":
        # the negative clause only demotes the score, never filters
        return translate_query(body["positive"])
    if kind == "regexp":
        field, val = _field_value(body, "value")
        # ES regexp anchors the whole term; Java regex on our side
        return F.col(field).isNotNull() & F.col(field).rlike(f"^(?:{val})$")
    if kind == "fuzzy":
        # term-level edit-distance match; "AUTO" uses ES's
        # length-banded distances (0 for <3 chars, 1 for 3-5, 2 past).
        # DEFAULT DIVERGENCE from ES (documented in README): ES
        # defaults fuzzy_transpositions=true (Damerau-Levenshtein),
        # Spark's built-in levenshtein() is classic, so 'paln'->
        # 'plan' is distance 1 there but 2 here. Passing
        # "fuzzy_transpositions": true opts into exact ES semantics
        # via an Arrow-batched Pandas UDF (OSA distance, parity-
        # tested vs DuckDB's damerau_levenshtein) — off by default
        # because the built-in keeps the filter UDF-free/codegen.
        field, val = _field_value(body, "value")
        spec = body[field]
        fz = spec.get("fuzziness", "AUTO") if isinstance(spec, dict) \
            else "AUTO"
        transpositions = (spec.get("fuzzy_transpositions", False)
                          if isinstance(spec, dict) else False)
        if fz == "AUTO":
            n = len(val)
            fz = 0 if n < 3 else (1 if n <= 5 else 2)
        if transpositions:
            return (F.col(field).isNotNull()
                    & _damerau_within(field, val, int(fz)))
        return (F.col(field).isNotNull()
                & (F.levenshtein(F.col(field), F.lit(val)) <= int(fz)))
    if kind == "multi_match":
        # same analyzed-token match ORed across several fields
        val = body["query"]
        fields = body["fields"]
        analyzer_name = body.get("analyzer")
        acc = F.lit(False)
        if analyzer_name is not None:
            from parquet_generator_spark.operators.analyzers import (
                analyzed_match,
                get_analyzer,
            )
            a = get_analyzer(analyzer_name)
            for f in fields:
                acc = acc | (F.col(f).isNotNull()
                             & analyzed_match(f, val, a))
            return acc
        for f in fields:
            acc = acc | (F.col(f).isNotNull() & match_any(f, val))
        return acc
    if kind == "combined_fields":
        # ES 7.13 combined_fields: term-centric match over several
        # text fields analyzed as one — a term matches when it
        # appears in ANY of the fields, and operator /
        # minimum_should_match apply across TERMS (not fields).
        # Field ^boosts are scoring-only (score_query), as in ES.
        toks = _tokens(body["query"])
        fields = [f.split("^", 1)[0] for f in body["fields"]]
        if not toks or not fields:
            raise ValueError("combined_fields: empty query or fields")
        hits = []
        for t in toks:
            any_f = F.lit(False)
            for f in fields:
                any_f = any_f | (F.col(f).isNotNull()
                                 & token_present(f, t))
            hits.append(any_f)
        if body.get("operator", "or") == "and":
            out = F.lit(True)
            for h in hits:
                out = out & h
            return out
        msm = int(body.get("minimum_should_match", 1))
        if msm > len(hits):
            return F.lit(False)
        if msm == 1:
            out = F.lit(False)
            for h in hits:
                out = out | h
            return out
        n = None
        for h in hits:
            c = h.cast("int")
            n = c if n is None else n + c
        return n >= F.lit(msm)
    if kind == "match_bool_prefix":
        # ES match_bool_prefix: each analyzed term becomes a term
        # clause except the LAST, which matches as a token prefix;
        # clauses combine as bool-should with minimum_should_match
        # (default 1, like the bool it desugars to).
        field, spec = next(iter(body.items()))
        if isinstance(spec, dict):
            val = spec["query"]
            msm = int(spec.get("minimum_should_match", 1))
        else:
            val, msm = spec, 1
        toks = _tokens(val)
        if not toks:
            raise ValueError("match_bool_prefix: empty query")
        nn = F.col(field).isNotNull()
        clauses = [token_present(field, t) for t in toks[:-1]]
        clauses.append(F.lower(F.col(field))
                       .rlike(f"{_B_L}{re.escape(toks[-1])}"))
        if msm > len(clauses):
            return F.lit(False)
        if msm == 1:
            out = F.lit(False)
            for c in clauses:
                out = out | c
            return nn & out
        n = None
        for cl in clauses:
            c = cl.cast("int")
            n = c if n is None else n + c
        return nn & (n >= F.lit(msm))
    if kind == "wrapper":
        # base64-encoded JSON query, decoded on the driver at plan
        # time (zero runtime cost; the inner query pushes down like
        # any other)
        import base64
        import json
        return translate_query(
            json.loads(base64.b64decode(body["query"])))
    if kind == "intervals":
        field, rule = next(iter(body.items()))
        return _intervals_pred(field, rule)
    if kind == "span_near":
        # Lucene span_near over span_term clauses: all terms within
        # `slop` total intervening tokens, optionally order-free.
        # Two clauses compile to one codegen regex (the gap count is
        # direct); more clauses share the slop budget across gaps,
        # which no single regex expresses — those route to the exact
        # token-position chain (proximity_pred_sql).
        clauses = body["clauses"]
        if len(clauses) < 2:
            raise ValueError("span_near: at least 2 clauses")
        slop = int(body.get("slop", 0))
        in_order = body.get("in_order", True)
        pairs = []
        for c in clauses:
            f, v = next(iter(c["span_term"].items()))
            pairs.append((f, str(v).lower()))
        if len({f for f, _ in pairs}) != 1:
            raise ValueError("span_near clauses must share one field")
        field = pairs[0][0]
        if len(clauses) > 2:
            pred = proximity_pred_sql(
                field, [v for _, v in pairs], slop, bool(in_order))
            return F.col(field).isNotNull() & F.expr(pred)
        t1, t2 = re.escape(pairs[0][1]), re.escape(pairs[1][1])

        def _near(a: str, b: str) -> str:
            return (f"{_B_L}{a}({_SEP}{_TOKEN}){{0,{slop}}}"
                    f"{_SEP}{b}{_B_R}")

        pat = _near(t1, t2)
        col = F.lower(F.col(field))
        out = col.rlike(pat)
        if not in_order:
            out = out | col.rlike(_near(t2, t1))
        return F.col(field).isNotNull() & out
    if kind == "span_or":
        # Lucene span_or: union of span clauses (as a filter, any
        # clause present matches)
        acc = F.lit(False)
        for c in body["clauses"]:
            f, v = next(iter(c["span_term"].items()))
            acc = acc | (F.col(f).isNotNull()
                         & token_present(f, str(v).lower()))
        return acc
    if kind == "span_not":
        # Lucene span_not: an include-span occurrence with no
        # exclude span within pre/post tokens (dist sets both)
        fi, vi = next(iter(body["include"]["span_term"].items()))
        fe, ve = next(iter(body["exclude"]["span_term"].items()))
        if fi != fe:
            raise ValueError(
                "span_not: include/exclude must share one field")
        dist = int(body.get("dist", 0))
        pre = int(body.get("pre", dist))
        post = int(body.get("post", dist))
        return F.col(fi).isNotNull() & F.expr(
            span_not_pred_sql(fi, str(vi), str(ve), pre, post))
    if kind == "terms_set":
        # terms_set: at least m of the given terms present, with m
        # from a constant script or a per-document field
        field, spec = next(iter(body.items()))
        terms = spec["terms"]
        if not terms:
            raise ValueError("terms_set: empty terms list")
        if "minimum_should_match_field" in spec:
            m = F.col(spec["minimum_should_match_field"]).cast("int")
        elif "minimum_should_match_script" in spec:
            m = F.lit(int(spec["minimum_should_match_script"]["source"]))
        else:
            raise ValueError(
                "terms_set needs minimum_should_match_field or "
                "minimum_should_match_script")
        hits = None
        for t in terms:
            h = token_present(field, str(t).lower()).cast("int")
            hits = h if hits is None else hits + h
        return F.col(field).isNotNull() & (hits >= m)
    if kind == "nested":
        # ES nested query: the parent matches when ANY element of the
        # array-of-structs at `path` satisfies the inner query, with
        # the inner query evaluated per element (never across
        # elements). Spark-first: exists(path, x -> pred) — an
        # array-side lambda, no explode, no shuffle; the parent row
        # count never changes. Inner field names are written
        # `path.field` as in ES.
        path = body["path"]
        pred = _element_pred_sql(body["query"], path)
        return (F.col(path).isNotNull()
                & F.expr(f"exists({path}, _x -> {pred})"))
    if kind == "bool":
        out = F.lit(True)
        for clause in body.get("must", []):
            out = out & translate_query(clause)
        for clause in body.get("filter", []):
            out = out & translate_query(clause)
        for clause in body.get("must_not", []):
            out = out & ~translate_query(clause)
        should = body.get("should", [])
        # ES default minimum_should_match: 1 when should stands alone,
        # 0 (non-filtering, scoring only) when must/filter are present
        msm = body.get("minimum_should_match")
        if msm is None:
            msm = 0 if (body.get("must") or body.get("filter")) else 1
        msm = int(msm)  # ES accepts string msm ("1")
        if should and msm == 1:
            # the common case stays a plain disjunction — Or(leaf...)
            # can still push to the scan, a count-of-casts cannot
            acc = F.lit(False)
            for clause in should:
                acc = acc | translate_query(clause)
            out = out & acc
        elif should and msm > 1:
            if msm > len(should):
                # Lucene: unsatisfiable minimum matches nothing
                return F.lit(False)
            hits = None
            for clause in should:
                h = translate_query(clause).cast("int")
                hits = h if hits is None else hits + h
            out = out & (hits >= F.lit(msm))
        return out
    raise ValueError(f"unsupported query kind {kind!r}")


def _field_value(body: dict, value_key: str):
    field, spec = next(iter(body.items()))
    if isinstance(spec, dict):
        return field, spec[value_key]
    return field, spec


def score_query(q: dict | None, boost: float = 1.0) -> Column:
    """Relevance score for the compound scoring queries, as a
    deterministic Column (pure arithmetic over the match predicates,
    oracle-reproducible — the TF/IDF-bearing scorer lives in
    ``bm25_topk``):

    - a leaf scores its ``boost`` (default 1.0) when it matches,
      else 0 — Lucene's constant-score rewrite of filter-context
      leaves;
    - ``constant_score`` scores its ``boost`` when the wrapped filter
      matches;
    - ``dis_max`` scores ``max + tie_breaker * (sum - max)`` over its
      subquery scores — the ES tie-breaker semantics: the best clause
      wins outright, every OTHER matching clause contributes only its
      tie_breaker fraction (tie_breaker=0 -> pure max,
      1 -> plain sum);
    - ``boosting`` multiplies the positive score by
      ``negative_boost`` when the negative query matches (demotion,
      never exclusion);
    - ``bool`` sums the scores of its must + should clauses (filter /
      must_not are scoreless filter context), gated on the bool
      matching.
    """
    if not q:
        return F.lit(float(boost))
    kind, body = next(iter(q.items()))
    if kind == "constant_score":
        b = float(body.get("boost", 1.0)) * boost
        return F.when(translate_query(body["filter"]),
                      F.lit(b)).otherwise(F.lit(0.0))
    if kind == "dis_max":
        if not body["queries"]:
            raise ValueError("dis_max: empty queries")
        scores = [score_query(c) for c in body["queries"]]
        tb = float(body.get("tie_breaker", 0.0))
        best = F.greatest(*scores) if len(scores) > 1 else scores[0]
        total = scores[0]
        for s in scores[1:]:
            total = total + s
        return F.lit(float(boost)) * (best + F.lit(tb) * (total - best))
    if kind == "boosting":
        pos = score_query(body["positive"])
        demote = F.when(translate_query(body["negative"]),
                        F.lit(float(body["negative_boost"]))) \
            .otherwise(F.lit(1.0))
        return F.lit(float(boost)) * pos * demote
    if kind == "bool":
        parts = [score_query(c) for c in
                 body.get("must", []) + body.get("should", [])]
        total = F.lit(0.0)
        for p in parts:
            total = total + p
        return F.when(translate_query(q), total).otherwise(F.lit(0.0))
    if kind == "combined_fields":
        # deterministic stand-in for BM25F's term-centric blend: each
        # term contributes the ^boost-weighted count of fields that
        # contain it, summed over terms and gated on the query
        # matching (so operator/msm still decide WHO scores); an
        # in-body "boost" scales the whole clause like any leaf
        total = F.lit(0.0)
        toks = _tokens(body["query"])
        for spec in body["fields"]:
            name, _, w = spec.partition("^")
            fw = float(w) if w else 1.0
            for t in toks:
                total = total + F.when(
                    F.col(name).isNotNull() & token_present(name, t),
                    F.lit(fw)).otherwise(F.lit(0.0))
        clause_boost = float(body.get("boost", 1.0))
        return F.when(translate_query(q),
                      F.lit(float(boost) * clause_boost) * total) \
            .otherwise(F.lit(0.0))
    # leaf: honor a per-leaf "boost" in the field spec if present
    # (guard the probe — match_all's body is an empty dict, the
    # canonical ES idiom under scoring compounds)
    leaf_boost = 1.0
    if isinstance(body, dict) and body:
        spec = next(iter(body.values()))
        if isinstance(spec, dict) and "boost" in spec:
            leaf_boost = float(spec["boost"])
    return F.when(translate_query(q),
                  F.lit(float(boost) * leaf_boost)).otherwise(F.lit(0.0))


_RESCORE_MODES = ("total", "multiply", "avg", "max", "min")


def rescore_search(df: DataFrame, body: dict,
                   id_col: str = "doc_id") -> DataFrame:
    """ES `rescore`: two-phase ranking. Phase 1 scores every match of
    `query` (score_query arithmetic) and keeps the top `window_size`
    by (score desc, id asc) — a bounded TakeOrderedAndProject, never
    a global sort. Phase 2 re-scores ONLY that window with
    `rescore_query` and combines per `score_mode`:
    total = qw*q + rqw*r, multiply = (qw*q)*(rqw*r), avg/max/min of
    the two weighted scores. A window doc missing the rescore query
    scores r=0 (Lucene's behavior). Returns the re-ranked top `size`
    of the window as (rank, id, score) — `size` must be <= the
    window; the unrescored tail below the window is a hits-paging
    concern, not a ranking one."""
    rs = body["rescore"]
    spec = rs["query"]
    window = int(rs.get("window_size", 10))
    size = int(body.get("size", window))
    if size > window:
        raise ValueError("rescore: size must be <= window_size")
    mode = spec.get("score_mode", "total")
    if mode not in _RESCORE_MODES:
        raise ValueError(f"rescore: unknown score_mode {mode!r}")
    qw = float(spec.get("query_weight", 1.0))
    rqw = float(spec.get("rescore_query_weight", 1.0))
    first = F.round(score_query(body["query"]), 4)
    win = (df.filter(translate_query(body["query"]))
           .withColumn("_first", first)
           .orderBy(F.desc("_first"), F.asc(id_col))
           .limit(window))
    a = F.lit(qw) * F.col("_first")
    b = F.lit(rqw) * F.round(score_query(spec["rescore_query"]), 4)
    comb = {"total": a + b, "multiply": a * b,
            "avg": (a + b) / 2.0,
            "max": F.greatest(a, b), "min": F.least(a, b)}[mode]
    scored = win.select(F.col(id_col),
                        F.round(comb, 4).alias("score"))
    top = (scored.orderBy(F.desc("score"), F.asc(id_col))
           .limit(size))
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", id_col, "score").orderBy("rank"))


def render_search_template(template: str, params: dict) -> dict:
    """ES search templates: render the mustache subset ES documents
    into a query body dict. Supported: ``{{var}}`` substitution
    (inserted as raw text — the template supplies any quoting, as in
    ES), ``{{#toJson}}var{{/toJson}}`` (JSON-encodes lists/dicts),
    conditional sections ``{{#var}}...{{/var}}`` (kept when the param
    is truthy) and inverted ``{{^var}}...{{/var}}`` (kept when falsy
    or absent). Sections don't nest — ES's own examples don't either.
    Rendering happens on the driver at plan time (like `wrapper`);
    the result is an ordinary body for ``search``/``translate_query``.
    """
    import json

    def _section(m):
        neg, name, inner = m.group(1) == "^", m.group(2), m.group(3)
        keep = bool(params.get(name)) != neg
        return inner if keep else ""

    # toJson first: it shares the {{#...}} shape with sections
    out = re.sub(r"\{\{#toJson\}\}(\w+)\{\{/toJson\}\}",
                 lambda m: json.dumps(params[m.group(1)]), template)
    out = re.sub(r"\{\{([#^])(\w+)\}\}(.*?)\{\{/\2\}\}",
                 _section, out, flags=re.S)

    def _var(m):
        name = m.group(1)
        if name not in params:
            raise KeyError(f"search template: missing param {name!r}")
        v = params[name]
        # bool/None must render as JSON (true/null), not Python
        # literals (True/None) — str() would break the final loads;
        # lists/dicts likewise. Plain strings insert raw text (the
        # template supplies quotes), numbers insert their digits.
        if isinstance(v, str):
            return v
        if isinstance(v, (list, dict, bool)) or v is None:
            return json.dumps(v)
        return str(v)

    out = re.sub(r"\{\{(\w+)\}\}", _var, out)
    return json.loads(out)


def osa_distance(a: str, b: str) -> int:
    """Optimal-string-alignment distance — Levenshtein plus adjacent
    transposition as ONE edit (Lucene's fuzzy_transpositions=true
    model; also what DuckDB's damerau_levenshtein computes, which the
    parity test pins)."""
    la, lb = len(a), len(b)
    prev2: list[int] = []
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (i > 1 and j > 1 and a[i - 1] == b[j - 2]
                    and a[i - 2] == b[j - 1]):
                cur[j] = min(cur[j], prev2[j - 2] + cost)
        prev2, prev = prev, cur
    return prev[lb]


def _damerau_within(field: str, val: str, maxd: int) -> Column:
    """Arrow-batched boolean predicate dist_osa(field, val) <= maxd —
    the opt-in fuzzy_transpositions path (per-row DP over short
    terms; linear scan, no shuffle)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def ok(s: pd.Series) -> pd.Series:
        return s.map(lambda x: x is not None
                     and osa_distance(x, val) <= maxd)

    return ok(F.col(field))


def _sql_lit(v) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    # Spark SQL string literals treat backslash as an escape
    # (escapedStringLiterals=false default), so backslashes must be
    # doubled BEFORE quote-escaping or a trailing backslash swallows
    # the closing quote.
    s = str(v).replace("\\", "\\\\").replace("'", "''")
    return "'" + s + "'"


def _elem_field(field: str, path: str, var: str) -> str:
    """ES writes nested fields as `path.field`; inside the lambda the
    element struct is bound to `var`."""
    inner = field[len(path) + 1:] if field.startswith(path + ".") \
        else field
    return f"{var}.{inner}"


def _element_pred_sql(q: dict | None, path: str, var: str = "_x") -> str:
    """Inner-query subset of translate_query as SQL TEXT over one
    array element (the lambda variable), for use inside
    exists()/filter() higher-order functions — Columns can't cross a
    lambda boundary, so the nested branch builds its predicate as a
    SQL fragment with the same null-safe TRUE/FALSE leaf contract as
    the Column translator."""
    if not q:
        return "TRUE"
    kind, body = next(iter(q.items()))
    if kind == "match_all":
        return "TRUE"
    if kind == "term":
        field, val = _field_value(body, "value")
        f = _elem_field(field, path, var)
        return f"({f} IS NOT NULL AND {f} = {_sql_lit(val)})"
    if kind == "terms":
        field, vals = next(iter(body.items()))
        f = _elem_field(field, path, var)
        in_list = ", ".join(_sql_lit(v) for v in vals)
        return f"({f} IS NOT NULL AND {f} IN ({in_list}))"
    if kind == "range":
        field, conds = next(iter(body.items()))
        f = _elem_field(field, path, var)
        ops = {"gt": ">", "gte": ">=", "lt": "<", "lte": "<="}
        parts = [f"{f} IS NOT NULL"]
        for op, v in conds.items():
            if op not in ops:
                raise ValueError(f"unsupported range op {op!r}")
            parts.append(f"{f} {ops[op]} {_sql_lit(v)}")
        return "(" + " AND ".join(parts) + ")"
    if kind == "exists":
        return f"({_elem_field(body['field'], path, var)} IS NOT NULL)"
    if kind == "prefix":
        field, val = _field_value(body, "value")
        f = _elem_field(field, path, var)
        return (f"({f} IS NOT NULL AND "
                f"startswith({f}, {_sql_lit(val)}))")
    if kind == "bool":
        parts = []
        for clause in body.get("must", []) + body.get("filter", []):
            parts.append(_element_pred_sql(clause, path, var))
        for clause in body.get("must_not", []):
            parts.append(f"(NOT {_element_pred_sql(clause, path, var)})")
        should = body.get("should", [])
        # mirror translate_query: ES's default minimum_should_match is
        # 1 only when should stands alone; with must/filter present it
        # is 0 (scoring-only) and must NOT filter. ES accepts string
        # msm ("1") — normalize once before comparing.
        msm = body.get("minimum_should_match")
        if msm is None:
            msm = 0 if (body.get("must") or body.get("filter")) else 1
        msm = int(msm)
        if should and msm == 1:
            parts.append("(" + " OR ".join(
                _element_pred_sql(c, path, var) for c in should) + ")")
        elif should and msm > 1:
            if msm > len(should):
                return "FALSE"
            hits = " + ".join(
                f"CAST({_element_pred_sql(c, path, var)} AS INT)"
                for c in should)
            parts.append(f"(({hits}) >= {msm})")
        return "(" + " AND ".join(parts) + ")" if parts else "TRUE"
    raise ValueError(f"unsupported nested inner query kind {kind!r}")


_METRICS = {
    "min": F.min, "max": F.max, "avg": F.avg, "sum": F.sum,
    "value_count": F.count,
}

# ES default percents for the percentiles aggregation
_DEFAULT_PERCENTS = (1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)


def _pct_label(p: float) -> str:
    s = f"{p:g}".replace(".", "_")
    return f"p{s}"


# --- scripted_metric (bounded painless subset) -----------------------
# ES scripted_metric runs painless init/map/combine/reduce scripts
# per shard. The Spark translation exploits that the canonical shapes
# (the ES reference's own example included) are associative folds:
# map emits one value per doc, combine folds the shard, reduce folds
# the shards with the SAME operator — which is exactly a Catalyst
# partial aggregate (map-side combine + final merge), so the whole
# agg stays a single grouped pass with no UDF and no state object.
# DOCUMENTED DIVERGENCE: only fold-shaped scripts are accepted —
# map ``state.<v>.add(expr)`` / ``state.<v> += expr`` / ``state.<v> =
# Math.max|min(state.<v>, expr)``, a bounded for/while loop over a
# doc array field, or a MULTI-STATEMENT body of independent scalar
# folds over distinct state vars (reduce_script then supplies the
# final ``return <expr over state.<v>s>`` projection — e.g. the
# mean pattern ``state.s += x; state.n += 1`` with
# ``return state.s * 1.0 / state.n``); combine/reduce a matching
# sum/max/min fold (multi-var: merge implied by the fold shapes,
# combine_script must be omitted); arbitrary stateful scripts raise
# ValueError.

_DOC_REF_RE = re.compile(r"doc(?:\['(\w+)'\]|\.(\w+))(?:\.value\b)?")
_PARAM_REF_RE = re.compile(r"params(?:\['(\w+)'\]|\.(\w+))")
_MATH_FNS = {"Math.round": "round", "Math.abs": "abs",
             "Math.sqrt": "sqrt", "Math.log10": "log10",
             "Math.log": "ln", "Math.exp": "exp",
             "Math.floor": "floor", "Math.ceil": "ceiling",
             "Math.max": "greatest", "Math.min": "least",
             "Math.pow": "power"}


def _param_literal(v) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # painless params floats are Java doubles; a bare literal
        # would parse as DECIMAL in Spark (see _promote_float_literals)
        return f"CAST({v!r} AS DOUBLE)"
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise ValueError(f"unsupported painless param type: {v!r}")


_FLOAT_LIT_RE = re.compile(
    r"(?<![\w.'])(\d+\.\d+)(?![\w.])(?!\s+AS\s+DOUBLE)")


def _promote_float_literals(expr: str) -> str:
    """Painless/Java float literals are DOUBLES; Spark SQL parses
    a bare ``1.0`` as DECIMAL(2,1), silently switching the whole
    expression to decimal arithmetic (found by the
    dsl_scripted_metric_while driver sim: sum(long) * 1.0 came back
    decimal-typed). Wrap every float literal outside string
    literals in an engine-neutral CAST( .. AS DOUBLE) — DuckDB
    treats 1.0 as double already, so the oracle text is unchanged
    semantically. The trailing lookahead makes the pass idempotent
    under the translator's ternary recursion."""
    out, i, n = [], 0, len(expr)
    while i < n:
        ch = expr[i]
        if ch == "'":
            j = i + 1
            while j < n and expr[j] != "'":
                j += 1
            out.append(expr[i:j + 1])
            i = j + 1
            continue
        j = expr.find("'", i)
        seg = expr[i:] if j < 0 else expr[i:j]
        out.append(_FLOAT_LIT_RE.sub(r"CAST(\1 AS DOUBLE)", seg))
        i = n if j < 0 else j
    return "".join(out)


def _painless_expr_sql(expr: str, params: dict | None = None) -> str:
    """Painless value expression -> engine-neutral SQL text.

    Handles ``doc['f'].value`` / ``doc.f.value`` field refs,
    ``params.x`` / ``params['x']`` references (resolved to PLAN
    LITERALS from the script body's params map — how every reusable
    painless script is parameterized), Math.* calls, ``==``/``!=``/
    ``&&``/``||``, string literals, and the ternary ``cond ? a : b``
    (recursively) -> CASE WHEN.
    """
    expr = _promote_float_literals(expr.strip())
    # strip fully-enclosing parens so a parenthesized ternary (the
    # idiomatic painless nesting) is seen at top level when recursing
    while expr.startswith("(") and expr.endswith(")"):
        depth, in_s = 0, None
        enclosing = True
        for i, ch in enumerate(expr):
            if in_s:
                if ch == in_s:
                    in_s = None
                continue
            if ch in "'\"":
                in_s = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(expr) - 1:
                    enclosing = False
                    break
        if not enclosing:
            break
        expr = expr[1:-1].strip()
    # ternaries nested inside parenthesized SUBEXPRESSIONS convert
    # first: locate the innermost '(' enclosing the first '?', splice
    # in the recursive translation of that group, repeat (the
    # CASE text it leaves behind contains no painless tokens, so the
    # later rewrites pass over it unchanged)
    while True:
        stack: list[int] = []
        q_at, in_s2 = -1, None
        for i, ch in enumerate(expr):
            if in_s2:
                if ch == in_s2:
                    in_s2 = None
                continue
            if ch in "'\"":
                in_s2 = ch
            elif ch == "(":
                stack.append(i)
            elif ch == ")":
                stack.pop()
            elif ch == "?" and stack:
                q_at = i
                break
        if q_at < 0:
            break
        p = stack[-1]
        depth, in_s2 = 0, None
        close = -1
        for j in range(p, len(expr)):
            ch = expr[j]
            if in_s2:
                if ch == in_s2:
                    in_s2 = None
                continue
            if ch in "'\"":
                in_s2 = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    close = j
                    break
        if close < 0:
            raise ValueError(f"unbalanced parens in script: {expr!r}")
        inner = _painless_expr_sql(expr[p + 1:close], params)
        expr = expr[:p] + "(" + inner + ")" + expr[close + 1:]
    # ternary first, structurally: find a top-level '?', then its
    # matching top-level ':' (quotes and parens respected)
    depth, q_pos = 0, -1
    in_str: str | None = None
    for i, ch in enumerate(expr):
        if in_str:
            if ch == in_str:
                in_str = None
            continue
        if ch in "'\"":
            in_str = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "?" and depth == 0:
            q_pos = i
            break
    if q_pos >= 0:
        depth, in_str = 0, None
        for j in range(q_pos + 1, len(expr)):
            ch = expr[j]
            if in_str:
                if ch == in_str:
                    in_str = None
                continue
            if ch in "'\"":
                in_str = ch
            elif ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == ":" and depth == 0:
                cond = _painless_expr_sql(expr[:q_pos], params)
                then = _painless_expr_sql(expr[q_pos + 1:j], params)
                other = _painless_expr_sql(expr[j + 1:], params)
                return f"CASE WHEN {cond} THEN {then} ELSE {other} END"
        raise ValueError(f"unterminated ternary in script: {expr!r}")
    # doc refs first, over the WHOLE string: the quotes in
    # doc['field'] are ref syntax, not value literals (a painless
    # string literal containing the text "doc['x'].value" is not
    # supported — document over contort)
    expr = _DOC_REF_RE.sub(lambda m: m.group(1) or m.group(2), expr)
    if params:
        def _sub_param(m):
            name = m.group(1) or m.group(2)
            if name not in params:
                raise ValueError(f"script references undefined "
                                 f"params.{name}")
            return _param_literal(params[name])
        expr = _PARAM_REF_RE.sub(_sub_param, expr)
    # remaining token replacements must not touch STRING LITERALS
    # ('a==b' stays 'a==b'): split on quoted segments, rewrite only
    # the code between them
    parts = re.split(r"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")", expr)
    for i in range(0, len(parts), 2):      # even indices = code
        out = parts[i]
        for pain, sql in _MATH_FNS.items():
            out = out.replace(pain + "(", sql + "(")
        out = out.replace("!=", "<>").replace("==", "=")
        out = re.sub(r"\s*&&\s*", " AND ", out)
        out = re.sub(r"\s*\|\|\s*", " OR ", out)
        parts[i] = out
    return "".join(parts)


def painless_score_sql(script: dict) -> str:
    """ES ``script`` object ({"source": ..., "params": {...}}) ->
    engine-neutral SQL text: ONE generator feeds the Spark plan and
    the DuckDB oracle (the s_stem_sql precedent), with params
    resolved to plan literals."""
    return _painless_expr_sql(script["source"],
                              script.get("params") or {})


# [^;]* keeps multi-STATEMENT scripts out of the fold gate: a second
# statement after the fold ("state.t.add(a); state.u.add(b)") must
# hit the clean ValueError below, not leak garbage into F.expr
_MAP_ADD_RE = re.compile(
    r"^\s*state\.(\w+)\.add\(([^;]*)\)\s*;?\s*$", re.S)
_MAP_INCR_RE = re.compile(r"^\s*state\.(\w+)\s*\+=\s*([^;]*?)\s*;?\s*$",
                          re.S)
_MAP_MAXMIN_RE = re.compile(
    r"^\s*state\.(\w+)\s*=\s*Math\.(max|min)\(\s*state\.\1\s*,"
    r"\s*([^;]*)\)\s*;?\s*$", re.S)
# bounded painless for-loop over a doc ARRAY field:
#   for (int i = 0; i < doc['arr'].length; i++) { state.v += <expr> }
# The loop bound is the array field's own length, so the whole loop
# is a sequential fold over the array — translated to ONE
# higher-order aggregate() (codegen, no unroll, no length contract);
# the per-doc fold result then feeds the ordinary partial aggregate.
_MAP_FOR_RE = re.compile(
    r"^\s*for\s*\(\s*int\s+(\w+)\s*=\s*0\s*;\s*"
    r"\1\s*<\s*doc\['(\w+)'\]\.length\s*;\s*\1\+\+\s*\)\s*"
    r"\{\s*state\.(\w+)\s*\+=\s*([^;{}]*?)\s*;?\s*\}\s*$", re.S)
# bounded painless WHILE loop — the same fold, spelled imperatively:
#   int i = 0; while (i < doc['arr'].length) { state.v += <expr>; i++ }
# The bound must be the array field's own length and the counter must
# be the canonical init-0/increment-by-one walk; any other while
# (unbounded, state-dependent condition, missing i++) is refused
# loudly below.
_MAP_WHILE_RE = re.compile(
    r"^\s*int\s+(\w+)\s*=\s*0\s*;\s*while\s*\(\s*"
    r"\1\s*<\s*doc\['(\w+)'\]\.length\s*\)\s*"
    r"\{\s*state\.(\w+)\s*\+=\s*([^;{}]*?)\s*;\s*\1\+\+\s*;?\s*\}"
    r"\s*$", re.S)
# multi-statement reduce must end in a plain value return over the
# merged state vars
_REDUCE_RETURN_RE = re.compile(r"^\s*return\s+(.*?)\s*;?\s*$", re.S)

_LOOP_ELEM = "loop_elem_ref__"


def _loop_body_sql(var: str, arr: str, body: str,
                   params: dict | None = None) -> str:
    """Loop body -> SQL over the lambda element variable ``x``.
    The element is CAST to DOUBLE (painless doc values are doubles;
    a float[] column would otherwise mix float/double arithmetic
    between engines). The index may ONLY appear inside the element
    ref — positional arithmetic is fenced loudly."""
    elem_re = re.compile(rf"doc\['{arr}'\]\[{var}\]")
    if not elem_re.search(body):
        raise ValueError(
            f"scripted_metric loop: body never reads "
            f"doc['{arr}'][{var}]: {body!r}")
    body_pl = elem_re.sub(_LOOP_ELEM, body)
    if f"doc['{arr}']" in body_pl or re.search(
            rf"\b{var}\b", body_pl):
        raise ValueError(
            "scripted_metric loop: the index may only appear as "
            f"doc['{arr}'][{var}] (positional arithmetic is not "
            f"supported): {body!r}")
    sql = _painless_expr_sql(body_pl, params)
    return sql.replace(_LOOP_ELEM, "CAST(x AS DOUBLE)")


def _split_painless_statements(s: str) -> list[str]:
    """Split on top-level ';' (outside parens/braces/strings — a
    loop's internal semicolons stay with the loop)."""
    out, depth, start, in_s = [], 0, 0, None
    for i, ch in enumerate(s):
        if in_s:
            if ch == in_s:
                in_s = None
        elif ch in "'\"":
            in_s = ch
        elif ch in "({[":
            depth += 1
        elif ch in ")}]":
            depth -= 1
        elif ch == ";" and depth == 0:
            out.append(s[start:i])
            start = i + 1
    out.append(s[start:])
    return [x.strip() for x in out if x.strip()]


def _fold_of_statement(st: str, params: dict | None):
    """Scalar fold statement -> (state_var, fold, sql_expr) or
    None if the statement is not a recognized fold shape."""
    m = _MAP_ADD_RE.match(st) or _MAP_INCR_RE.match(st)
    if m:
        return (m.group(1), "sum",
                _painless_expr_sql(m.group(2), params))
    m = _MAP_MAXMIN_RE.match(st)
    if m:
        return (m.group(1), m.group(2),
                _painless_expr_sql(m.group(3), params))
    return None


def _scripted_metric_multi(agg_name: str, mbody: dict,
                           stmts: list[str]) -> Column:
    """Multi-statement map body: N independent scalar folds over
    DISTINCT state vars, merged per the fold shapes (exactly the
    partial aggregates Catalyst executes), with reduce_script's
    ``return <expr over state.v>`` as the final projection.
    DOCUMENTED DIVERGENCE: the per-var shard merge is implied by
    each var's fold shape — combine_script must be omitted
    (free-form merge bodies are refused loudly)."""
    params = mbody.get("params")
    folds: dict[str, tuple[str, str]] = {}
    for st in stmts:
        f = _fold_of_statement(st, params)
        if f is None:
            raise ValueError(
                "scripted_metric: multi-statement map bodies are "
                "bounded to one scalar fold per state var "
                "(state.v += expr / state.v.add(expr) / state.v = "
                f"Math.max|min(state.v, expr)): {st!r}")
        var, fold, sql = f
        if var in folds:
            raise ValueError(
                f"scripted_metric: state var {var!r} is folded by "
                f"more than one map statement")
        folds[var] = (fold, sql)
    if mbody.get("combine_script"):
        raise ValueError(
            "scripted_metric: multi-var map bodies take their shard "
            "merge from the fold shapes (partial aggregates); omit "
            "combine_script")
    m = _REDUCE_RETURN_RE.match(mbody.get("reduce_script") or "")
    if not m:
        raise ValueError(
            "scripted_metric: multi-var map bodies need "
            "reduce_script 'return <expr over state.<var>s>'")
    sub = m.group(1)
    for var in folds:
        sub = re.sub(rf"state(?:\['{var}'\]|\.{var})\b",
                     f"__state_{var}__", sub)
    if re.search(r"\bstate\b", sub):
        raise ValueError(
            f"scripted_metric: reduce return references a state "
            f"var no map statement folds: {m.group(1)!r}")
    sql_ret = _painless_expr_sql(sub, params)
    for var, (fold, sql) in folds.items():
        agg = {"sum": "sum", "max": "max", "min": "min"}[fold]
        sql_ret = sql_ret.replace(f"__state_{var}__",
                                  f"{agg}(({sql}))")
    return F.expr(sql_ret).alias(agg_name)


def _scripted_metric_col(agg_name: str, mbody: dict) -> Column:
    """Fold-shaped scripted_metric -> one aggregate Column."""
    map_script = mbody["map_script"]
    mf = (_MAP_FOR_RE.match(map_script)
          or _MAP_WHILE_RE.match(map_script))
    if mf:
        var, arr, _state, body = mf.groups()
        inner = _loop_body_sql(var, arr, body,
                               mbody.get("params"))
        # sequential left-to-right fold — the add order every engine
        # (and the painless loop itself) agrees on
        expr = (f"aggregate({arr}, CAST(0 AS DOUBLE), "
                f"(acc, x) -> acc + ({inner}))")
        fold = "sum"
        m = mf
    else:
        if re.search(r"\bwhile\b", map_script):
            raise ValueError(
                "scripted_metric: only the bounded while form "
                "\"int i = 0; while (i < doc['arr'].length) "
                "{ state.v += expr; i++ }\" is supported — "
                "unbounded or state-dependent while conditions are "
                f"refused: {map_script!r}")
        stmts = _split_painless_statements(map_script)
        if len(stmts) > 1:
            return _scripted_metric_multi(agg_name, mbody, stmts)
        m = (_MAP_ADD_RE.match(map_script)
             or _MAP_INCR_RE.match(map_script))
        if m:
            expr, fold = m.group(2), "sum"
        else:
            m = _MAP_MAXMIN_RE.match(map_script)
            if not m:
                raise ValueError(
                    "scripted_metric: map_script must be a fold "
                    "(state.v.add(expr), state.v += expr, state.v = "
                    "Math.max/min(state.v, expr), or a bounded "
                    "for/while loop over a doc array field): "
                    f"{map_script!r}")
            fold, expr = m.group(2), m.group(3)
    # combine/reduce must fold with the same operator (or be omitted)
    for key in ("combine_script", "reduce_script"):
        s = mbody.get(key, "")
        if "Math.max" in s:
            other = "max"
        elif "Math.min" in s:
            other = "min"
        elif "+=" in s or not s:
            other = "sum"
        else:
            raise ValueError(f"scripted_metric: unsupported {key}: {s!r}")
        if other != fold:
            raise ValueError(
                f"scripted_metric: {key} folds with {other!r} but "
                f"map_script folds with {fold!r}")
    fn = {"sum": F.sum, "max": F.max, "min": F.min}[fold]
    # the loop branch already produced SQL text; scalar folds still
    # carry a painless value expression
    sql_expr = expr if mf else _painless_expr_sql(
        expr, mbody.get("params"))
    return fn(F.expr(sql_expr)).alias(agg_name)


def _metric_cols(agg_name: str, spec: dict) -> list[Column]:
    """Metric agg spec -> output Columns (percentiles expand to one
    column per requested percent: ``<name>_p50`` etc.)."""
    (mtype, mbody), = ((k, v) for k, v in spec.items() if k != "aggs")
    if mtype == "percentiles":
        field = mbody["field"]
        percents = [float(p) for p in mbody.get("percents",
                                                _DEFAULT_PERCENTS)]
        fracs = ", ".join(f"{p / 100.0!r}" for p in percents)
        # exact by default; {"approx": true} swaps in percentile_approx
        # (t-digest-style bounded memory) for the 100 TB path
        fn = "percentile_approx" if mbody.get("approx") else "percentile"
        arr = F.expr(f"{fn}({field}, array({fracs}))")
        return [F.round(arr[i], 4).alias(f"{agg_name}_{_pct_label(p)}")
                for i, p in enumerate(percents)]
    if mtype == "percentile_ranks":
        # ES: for each value, the percentage of observations <= it
        field = mbody["field"]
        return [
            F.round(100.0 * F.avg((F.col(field) <= F.lit(v))
                                  .cast("double")), 4)
            .alias(f"{agg_name}_{_pct_label(float(v))}")
            for v in mbody["values"]]
    if mtype == "weighted_avg":
        # ES weighted_avg: sum(value*weight)/sum(weight) — two partial
        # sums in the same grouped pass, no extra scan
        v, w = mbody["value"]["field"], mbody["weight"]["field"]
        c = F.round(F.sum(F.col(v) * F.col(w)) / F.sum(F.col(w)), 4)
        return [c.alias(agg_name)]
    if mtype == "top_metrics":
        # ES top_metrics: the metric field's value in the row that
        # sorts first — one max_by/min_by aggregate, no window. ES
        # breaks ties arbitrarily; we require a unique ``tie_break``
        # column appended to the sort key so both engines pick the
        # same row (max_by over a struct compares lexicographically).
        m = mbody["metrics"]["field"]
        (sf, sdir), = mbody["sort"].items()
        tb = mbody.get("tie_break")
        key_sql = f"struct({sf}, {tb})" if tb else sf
        fn = "max_by" if sdir == "desc" else "min_by"
        return [F.expr(f"{fn}({m}, {key_sql})").alias(agg_name)]
    if mtype == "scripted_metric":
        return [_scripted_metric_col(agg_name, mbody)]
    if mtype == "rate":
        # ES `rate`: bucket count (or field sum) rescaled from the
        # parent bucket's calendar interval to `unit`. DOCUMENTED
        # DIVERGENCE: the metric compiler is context-free, so the
        # parent interval is named explicitly (parent_interval)
        # instead of inherited from the enclosing date_histogram.
        secs = {"second": 1, "minute": 60, "hour": 3600,
                "day": 86400, "week": 604800}
        parent = mbody.get("parent_interval", "day")
        unit = mbody.get("unit", parent)
        if parent not in secs or unit not in secs:
            raise ValueError(
                f"rate: fixed-width units only, got "
                f"{parent!r} -> {unit!r} (month/quarter/year vary)")
        factor = float(secs[parent]) / secs[unit]
        if "field" in mbody:
            base = F.round(F.sum(mbody["field"]), 4)
        else:
            base = F.count(F.lit(1))
        return [(base / F.lit(factor)).alias(agg_name)]
    field = mbody["field"]
    if mtype in _METRICS:
        c = _METRICS[mtype](field)
        if mtype in ("avg", "sum"):
            c = F.round(c, 4)
        return [c.alias(agg_name)]
    if mtype == "cardinality":
        # exact by default (ES is approximate); pass {"approx": true}
        # for the HLL++ scale path
        if mbody.get("approx"):
            return [F.approx_count_distinct(field).alias(agg_name)]
        return [F.countDistinct(field).alias(agg_name)]
    if mtype == "stats":
        raise ValueError("stats expands to multiple columns; use search()")
    raise ValueError(f"unsupported metric agg {mtype!r}")


def _is_metric(spec: dict) -> bool:
    (mtype, _), = ((k, v) for k, v in spec.items() if k != "aggs")
    return mtype in _METRICS or mtype in (
        "cardinality", "percentiles", "percentile_ranks",
        "weighted_avg", "top_metrics", "scripted_metric", "rate")


# --- pipeline aggregations -------------------------------------------
# ES pipeline aggs work on the BUCKET frame, not the raw docs: they
# are second-pass window/arithmetic ops over the (small, post-shuffle)
# aggregation result, so they cost nothing at 100 TB — the heavy
# lifting already happened in the grouped aggregate.
# Deviation from ES: bucket_script / bucket_selector take a SQL
# expression over the bucket columns (``"expr"``) instead of a
# painless script with params.* paths.

_PARENT_PIPES = ("derivative", "serial_diff", "cumulative_sum",
                 "moving_fn", "moving_avg", "moving_percentiles",
                 "bucket_script", "bucket_selector", "bucket_sort")
_SERIAL_PIPES = ("derivative", "serial_diff", "cumulative_sum",
                 "moving_fn", "moving_avg", "moving_percentiles")
_SIBLING_PIPES = {"avg_bucket": F.avg, "sum_bucket": F.sum,
                  "max_bucket": F.max, "min_bucket": F.min}
# stats_bucket expands to five columns, handled inline in search()
_SIBLING_TYPES = frozenset(_SIBLING_PIPES) | {"stats_bucket"}


def _pipe_type(spec: dict) -> str | None:
    (ptype, _), = ((k, v) for k, v in spec.items() if k != "aggs")
    return ptype if ptype in _PARENT_PIPES else None


def _apply_pipelines(grouped: DataFrame, pipes: list[tuple[str, dict]],
                     serial_ok: bool) -> DataFrame:
    """Apply parent-level pipeline aggs, in declaration order, to a
    bucket frame with a ``key`` column. Serial pipes (derivative /
    cumulative_sum / moving_*) need a bucket ordering, so they window
    over ``ORDER BY key`` — a single-partition pass over
    bucket-cardinality rows (histogram buckets are bounded: days,
    hours, fixed bins — not data-scale). ES likewise restricts them to
    histogram-family parents; we raise on terms/composite parents."""
    from pyspark.sql import Window

    df = grouped
    w = Window.orderBy(F.asc("key"))
    for name, spec in pipes:
        (ptype, pbody), = ((k, v) for k, v in spec.items() if k != "aggs")
        if ptype in _SERIAL_PIPES and not serial_ok:
            raise ValueError(
                f"{ptype} requires a histogram-family parent agg")
        if ptype == "derivative":
            path = pbody["buckets_path"]
            df = df.withColumn(
                name, F.round(F.col(path) - F.lag(path, 1).over(w), 4))
        elif ptype == "serial_diff":
            # ES serial_diff: value minus the value `lag` buckets back
            # (lag=7 on a daily histogram = week-over-week delta)
            path = pbody["buckets_path"]
            lag = int(pbody.get("lag", 1))
            df = df.withColumn(
                name, F.round(F.col(path) - F.lag(path, lag).over(w), 4))
        elif ptype == "cumulative_sum":
            path = pbody["buckets_path"]
            df = df.withColumn(
                name,
                F.round(F.sum(path).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)), 4))
        elif ptype == "moving_percentiles":
            # ES moving_percentiles: percentiles over the trailing
            # bucket window (t-digest in ES; exact here — the window
            # is bucket-cardinality, tiny by construction)
            path = pbody["buckets_path"]
            n = int(pbody.get("window", 5))
            for p in pbody.get("percents", _DEFAULT_PERCENTS):
                df = df.withColumn(
                    f"{name}_{_pct_label(float(p))}",
                    F.round(F.expr(
                        f"percentile({path}, {float(p) / 100.0!r})")
                        .over(w.rowsBetween(-(n - 1), 0)), 4))
        elif ptype in ("moving_fn", "moving_avg"):
            # trailing window INCLUDING the current bucket (SQL moving
            # aggregate; ES's shift parameter can express the same).
            # moving_fn's script names a MovingFunctions.* reducer —
            # the unweighted ones map to plain window aggregates
            path = pbody["buckets_path"]
            n = int(pbody.get("window", 5))
            script = pbody.get("script",
                               "MovingFunctions.unweightedAvg(values)")
            fns = {"unweightedAvg": F.avg, "max": F.max,
                   "min": F.min, "sum": F.sum,
                   "stdDev": F.stddev_pop}
            m = re.search(r"MovingFunctions\.(\w+)\(", script)
            if not m or m.group(1) not in fns:
                raise ValueError(
                    f"moving_fn: unsupported script {script!r} "
                    f"(supported: MovingFunctions."
                    f"{'/'.join(fns)})")
            df = df.withColumn(
                name,
                F.round(fns[m.group(1)](path)
                        .over(w.rowsBetween(-(n - 1), 0)), 4))
        elif ptype == "bucket_script":
            df = df.withColumn(
                name, F.round(F.expr(pbody["expr"]), 4))
        elif ptype == "bucket_selector":
            df = df.filter(F.expr(pbody["expr"]))
        elif ptype == "bucket_sort":
            order_cols = []
            for s in pbody.get("sort", []):
                (field, sspec), = s.items()
                order = (sspec if isinstance(sspec, str)
                         else sspec.get("order", "asc"))
                c = F.col(field)
                order_cols.append(c.desc() if order == "desc" else c.asc())
            order_cols.append(F.asc("key"))  # total order for determinism
            df = df.orderBy(*order_cols)
            if "size" in pbody:
                df = df.limit(int(pbody["size"]))
    return df


def _exploded_buckets(filtered: DataFrame,
                      named_conds: list[tuple[str, Column]],
                      metric_cols: list[Column]) -> DataFrame:
    """Shared engine for bucket aggs whose buckets may overlap
    (``filters``, ``range``): each row emits a struct per bucket it
    belongs to (map-side explode — no extra scan per bucket), then one
    shuffle groups by bucket key. Empty buckets are omitted (SQL
    GROUP BY shape, unlike ES's zero-count buckets)."""
    structs = [F.struct(F.lit(name).alias("key"), cond.alias("hit"))
               for name, cond in named_conds]
    exploded = (filtered
                .withColumn("_b", F.explode(F.array(*structs)))
                .filter(F.col("_b.hit"))
                .withColumn("key", F.col("_b.key")))
    return (exploded.groupBy("key")
            .agg(F.count(F.lit(1)).alias("doc_count"), *metric_cols)
            .orderBy(F.asc("key")))


def _top_hits(filtered: DataFrame, key: Column, terms_size: int,
              th: dict) -> DataFrame:
    """terms bucket agg whose sub-agg is ``top_hits``: keep the top
    ``terms_size`` buckets by doc_count (ES bucket order), then the
    first ``size`` docs per bucket under the given sort. The bucket
    list is tiny -> broadcast back; per-bucket ranking is one window.
    The caller's sort must be total for deterministic output."""
    from pyspark.sql import Window

    size = th.get("size", 3)
    order_cols = []
    for s in th.get("sort", []):
        (field, spec), = s.items()
        order = spec if isinstance(spec, str) else spec.get("order", "asc")
        c = F.col(field)
        order_cols.append(c.desc() if order == "desc" else c.asc())
    source = th.get("_source")

    keyed = filtered.withColumn("key", key)
    buckets = (keyed.groupBy("key")
               .agg(F.count(F.lit(1)).alias("doc_count"))
               .orderBy(F.desc("doc_count"), F.asc("key"))
               .limit(terms_size))
    w = Window.partitionBy("key").orderBy(*order_cols)
    hits = (keyed.join(F.broadcast(buckets), "key")
            .withColumn("hit_rank", F.row_number().over(w))
            .filter(F.col("hit_rank") <= size))
    cols = ["key", "doc_count", "hit_rank"] + (
        source if source else [c for c in filtered.columns])
    return hits.select(*cols).orderBy("key", "hit_rank")


def _nested_terms(filtered: DataFrame, outer: dict,
                  inner: dict) -> DataFrame:
    """terms-in-terms two-level buckets: top-N outer buckets by
    doc_count (ES order), then top-M inner buckets per outer. One
    grouped pass on (outer, inner) feeds both levels: outer counts
    re-aggregate from the pair counts (no second corpus scan), the
    tiny top-N bucket list broadcasts back, and a per-outer window
    ranks the inner buckets."""
    from pyspark.sql import Window

    out_size = outer.get("size", 10)
    in_size = inner.get("size", 10)
    pairs = (filtered.groupBy(
        F.col(outer["field"]).alias("key"),
        F.col(inner["field"]).alias("sub_key"))
        .agg(F.count(F.lit(1)).alias("sub_doc_count")))
    outer_counts = (pairs.groupBy("key")
                    .agg(F.sum("sub_doc_count").alias("doc_count"))
                    .orderBy(F.desc("doc_count"), F.asc("key"))
                    .limit(out_size))
    w = Window.partitionBy("key").orderBy(
        F.desc("sub_doc_count"), F.asc("sub_key"))
    return (pairs.join(F.broadcast(outer_counts), "key")
            .withColumn("sub_rank", F.row_number().over(w))
            .filter(F.col("sub_rank") <= in_size)
            .select("key", "doc_count", "sub_key", "sub_doc_count",
                    "sub_rank")
            .orderBy(F.desc("doc_count"), F.asc("key"), "sub_rank"))


def search(df: DataFrame, body: dict) -> DataFrame:
    """Run an ES-style search body {query, aggs, size} on ``df``.

    Without aggs: filtered rows (size-limited). Metric aggs (possibly
    several siblings) produce a single row with one column per metric
    (percentiles expand to ``<name>_p<N>``). Bucket aggs (terms /
    date_histogram / histogram / range / filters) produce ES-shaped
    buckets ``key, doc_count, <metric sub-aggs...>``; terms buckets
    order by doc_count desc then key and honor ``size``; a
    ``top_hits`` sub-agg of terms returns the per-bucket top documents
    instead of metrics.
    """
    # ES runtime_mappings (7.11+): fields computed at search time —
    # a withColumn per field, declared BEFORE the query translates so
    # queries and aggs can reference them. Deviation from ES: the
    # definition is a SQL expression over the doc's columns, not a
    # painless script (same policy as bucket_script).
    for fname, fspec in (body.get("runtime_mappings") or {}).items():
        df = df.withColumn(fname, F.expr(fspec["expr"]))

    # ES 8.x `knn` search section: filtered vector search, routed to
    # the IVF index (knn_literal_topk). `filter` is a regular DSL
    # query applied BEFORE the probe (ES's filtered-kNN contract: all
    # k hits satisfy it). Deviations, documented: `num_candidates` is
    # accepted but the IVF dial is `n_probe` (+ `n_cells`,
    # `id_field`) — HNSW's candidate count has no IVF equivalent.
    knn = body.get("knn")
    if knn is not None:
        # refuse shapes this path would silently drop (same policy
        # as every other unsupported construct): ES hybrid query+knn
        # scoring and aggs-over-knn-hits are not implemented
        dropped = [k for k in ("query", "aggs", "aggregations",
                               "size") if body.get(k) is not None]
        if dropped:
            raise ValueError(
                f"knn search section cannot be combined with "
                f"{dropped}: hybrid query+knn scoring is not "
                f"supported — put the pre-filter in knn['filter']")
        from parquet_generator_spark.operators import similarity
        n_cells = int(knn.get("n_cells", 32))
        n_probe = int(knn.get("n_probe", 8))
        id_col = knn.get("id_field", "vec_id")
        pre = (translate_query(knn["filter"])
               if "filter" in knn else None)
        cents = similarity.make_centroids_from_corpus(
            df, n_cells, id_col=id_col, vec_col=knn["field"])
        return similarity.knn_literal_topk(
            df, knn["query_vector"], int(knn["k"]), cents,
            n_probe=n_probe, pre_filter=pre, id_col=id_col,
            vec_col=knn["field"])

    if body.get("rescore") is not None:
        if body.get("aggs") is not None \
                or body.get("aggregations") is not None:
            raise ValueError(
                "rescore applies to the hit window only; aggs over "
                "the unrescored result set are not supported in the "
                "same body — run a separate search for the aggs")
        return rescore_search(df, body,
                              id_col=body.get("id_field", "doc_id"))

    filtered = df.filter(translate_query(body.get("query")))
    aggs = body.get("aggs") or body.get("aggregations")
    if not aggs:
        size = body.get("size")
        sort = body.get("sort")
        if sort:
            # sorted-hits pagination: ES requires the sort to end in a
            # unique tie-breaker for search_after; the keyset cursor
            # becomes a lexicographic predicate (same shape as the
            # composite agg's `after`), and sort+limit compiles to
            # TakeOrderedAndProject — per-partition top-k, never a
            # global sort
            fields, dirs = [], []
            for s in sort:
                (fld, spec), = s.items()
                d = spec if isinstance(spec, str) else spec["order"]
                fields.append(fld)
                dirs.append(d)
            after = body.get("search_after")
            if after:
                pred, eq = F.lit(False), F.lit(True)
                for fld, d, val in zip(fields, dirs, after):
                    c = F.col(fld)
                    nxt = (c < F.lit(val)) if d == "desc" \
                        else (c > F.lit(val))
                    pred = pred | (eq & nxt)
                    eq = eq & (c == F.lit(val))
                filtered = filtered.filter(pred)
            order = [F.col(f).desc() if d == "desc" else F.col(f).asc()
                     for f, d in zip(fields, dirs)]
            filtered = filtered.orderBy(*order)
            return filtered.limit(size) if size is not None else filtered
        return filtered.limit(size) if size is not None else filtered

    # global bucket agg: metrics over ALL docs, ignoring the query —
    # a second one-row aggregate on the unfiltered frame, cross-joined
    # (both sides are single rows) with any filtered sibling metrics
    globals_ = {n: s for n, s in aggs.items() if "global" in s}
    if globals_:
        others = {n: s for n, s in aggs.items() if n not in globals_}
        out = None
        if others:
            if not all(_is_metric(s) for s in others.values()):
                raise ValueError(
                    "global agg composes with sibling metrics only")
            cols = [c for n, s in others.items()
                    for c in _metric_cols(n, s)]
            out = filtered.agg(*cols)
        for n, s in globals_.items():
            gcols = [c for m, ms in s.get("aggs", {}).items()
                     for c in _metric_cols(f"{n}_{m}", ms)]
            gdf = df.agg(F.count(F.lit(1)).alias(f"{n}_doc_count"),
                         *gcols)
            out = gdf if out is None else broadcast_scalars(out, gdf)
        return out

    if all(_is_metric(s) for s in aggs.values()):
        cols = [c for n, s in aggs.items() for c in _metric_cols(n, s)]
        return filtered.agg(*cols)

    # sibling pipeline aggs (avg_bucket etc.): reduce a bucket agg's
    # metric column to one row — buckets first, then a scalar agg of
    # the (small) bucket frame
    siblings = {n: s for n, s in aggs.items()
                if next(iter(s)) in _SIBLING_TYPES}
    if siblings:
        buckets = {n: s for n, s in aggs.items() if n not in siblings}
        if len(buckets) != 1:
            raise ValueError(
                "sibling pipeline aggs need exactly one bucket agg")
        frame = search(df, {"query": body.get("query"), "aggs": buckets})
        cols = []
        for n, s in siblings.items():
            (ptype, pbody), = s.items()
            path = pbody["buckets_path"].split(">")[-1]
            if ptype == "stats_bucket":
                # ES stats_bucket: full stats over the metric across
                # buckets — five columns from one scalar agg of the
                # (small) bucket frame
                cols += [
                    F.count(path).alias(f"{n}_count"),
                    F.round(F.min(path), 4).alias(f"{n}_min"),
                    F.round(F.max(path), 4).alias(f"{n}_max"),
                    F.round(F.avg(path), 4).alias(f"{n}_avg"),
                    F.round(F.sum(path), 4).alias(f"{n}_sum"),
                ]
                continue
            c = _SIBLING_PIPES[ptype](path)
            if ptype in ("avg_bucket", "sum_bucket"):
                c = F.round(c, 4)
            cols.append(c.alias(n))
        return frame.agg(*cols)

    if len(aggs) != 1:
        raise ValueError(
            "multiple sibling aggs are supported for metrics only")

    (agg_name, spec), = aggs.items()
    (atype, abody), = ((k, v) for k, v in spec.items() if k != "aggs")
    sub = spec.get("aggs", {})
    sub_pipes = [(n, s) for n, s in sub.items() if _pipe_type(s)]
    sub_ccs = [(n, s["cumulative_cardinality"]["field"])
               for n, s in sub.items() if "cumulative_cardinality" in s]
    sub_metrics = {n: s for n, s in sub.items()
                   if "top_hits" not in s and "terms" not in s
                   and "cumulative_cardinality" not in s
                   and not _pipe_type(s)}
    metric_cols = [c for n, s in sub_metrics.items()
                   for c in _metric_cols(n, s)]

    if atype == "stats":
        field = abody["field"]
        return filtered.agg(
            F.count(field).alias("count"),
            F.round(F.min(field), 4).alias("min"),
            F.round(F.max(field), 4).alias("max"),
            F.round(F.avg(field), 4).alias("avg"),
            F.round(F.sum(field), 4).alias("sum"),
        )

    if atype == "extended_stats":
        # ES extended_stats: stats + sum_of_squares + POPULATION
        # variance/std_deviation — all one-pass aggregates
        field = abody["field"]
        return filtered.agg(
            F.count(field).alias("count"),
            F.round(F.min(field), 4).alias("min"),
            F.round(F.max(field), 4).alias("max"),
            F.round(F.avg(field), 4).alias("avg"),
            F.round(F.sum(field), 4).alias("sum"),
            F.round(F.sum(F.col(field) * F.col(field)), 4)
            .alias("sum_of_squares"),
            F.round(F.var_pop(field), 4).alias("variance"),
            F.round(F.stddev_pop(field), 4).alias("std_deviation"),
        )

    if atype == "filter":
        # single-bucket agg: sub-metrics over the docs matching the
        # bucket's own query, composed with the search-level query
        return (filtered.filter(translate_query(abody))
                .agg(F.count(F.lit(1)).alias("doc_count"), *metric_cols))

    if atype == "missing":
        # single-bucket agg over docs LACKING the field (null),
        # with metric sub-aggs over that bucket
        return (filtered.filter(F.col(abody["field"]).isNull())
                .agg(F.count(F.lit(1)).alias("doc_count"), *metric_cols))

    if atype == "filters":
        named = abody["filters"]
        conds = [(name, translate_query(q)) for name, q in named.items()]
        return _exploded_buckets(filtered, conds, metric_cols)

    if atype == "adjacency_matrix":
        # ES adjacency_matrix: one bucket per named filter plus one
        # per pairwise intersection ("a&b"). Same map-side explode as
        # `filters` — each row emits at most n + n(n-1)/2 structs
        # (filter count is a handful, so the fan-out is a constant),
        # then ONE shuffle groups all buckets. Empty intersections are
        # omitted (ES drops zero-doc buckets here too).
        named = abody["filters"]
        singles = [(name, translate_query(q))
                   for name, q in sorted(named.items())]
        pairs = [(f"{n1}&{n2}", c1 & c2)
                 for i, (n1, c1) in enumerate(singles)
                 for (n2, c2) in singles[i + 1:]]
        return _exploded_buckets(filtered, singles + pairs, metric_cols)

    if atype == "auto_date_histogram":
        # ES auto_date_histogram: the FINEST calendar interval that
        # keeps the bucket count <= `buckets` (Kibana's default
        # histogram). Simplification vs ES: calendar units only
        # (minute/hour/day/week/month/year), no 5m/30m/3h subdivides.
        # The choice needs the data's time bounds — a one-row scalar
        # aggregate that stays eager because Python picks the unit
        # from it; the span arithmetic below is mirrored verbatim in
        # oracle SQL so both engines pick the same unit.
        target = int(abody.get("buckets", 10))
        field = abody["field"]
        lo, hi = filtered.agg(F.min(field), F.max(field)).first()
        if lo is None:
            return (filtered
                    .select(F.lit("").alias("key"),
                            F.lit(0).cast("long").alias("doc_count"),
                            F.lit("").alias("interval_unit"))
                    .limit(0))

        def tmin(t):
            return t.replace(second=0, microsecond=0)

        def n_fixed(unit_s, trunc):
            a, b = trunc(lo), trunc(hi)
            return int((b - a).total_seconds()) // unit_s + 1

        import datetime as _dt

        def tweek(t):
            d = _dt.datetime(t.year, t.month, t.day)
            return d - _dt.timedelta(days=d.weekday())

        n_by_unit = {
            "minute": n_fixed(60, tmin),
            "hour": n_fixed(3600, lambda t: tmin(t).replace(minute=0)),
            "day": n_fixed(86400, lambda t: _dt.datetime(
                t.year, t.month, t.day)),
            "week": n_fixed(604800, tweek),
            "month": ((hi.year * 12 + hi.month)
                      - (lo.year * 12 + lo.month) + 1),
            "year": hi.year - lo.year + 1,
        }
        unit = next((u for u in ("minute", "hour", "day", "week",
                                 "month", "year")
                     if n_by_unit[u] <= target), "year")
        key = F.date_format(F.date_trunc(unit, F.col(field)),
                            "yyyy-MM-dd HH:mm:ss").alias("key")
        return (filtered.groupBy(key)
                .agg(F.count(F.lit(1)).alias("doc_count"), *metric_cols)
                .withColumn("interval_unit", F.lit(unit))
                .orderBy(F.asc("key")))

    if atype == "multi_terms":
        # ES multi_terms (7.12+): buckets over value COMBINATIONS of
        # several fields; key = '|'-joined key_as_string. Exactly a
        # multi-column groupBy — one shuffle, default _count desc
        # order with key tie-break, like terms.
        fields = [t["field"] for t in abody["terms"]]
        size = abody.get("size", 10)
        key = F.concat_ws(
            "|", *[F.col(f).cast("string") for f in fields]).alias("key")
        return (filtered.groupBy(key)
                .agg(F.count(F.lit(1)).alias("doc_count"), *metric_cols)
                .orderBy(F.desc("doc_count"), F.asc("key"))
                .limit(size))

    if atype == "rare_terms":
        # ES rare_terms: the LONG TAIL — buckets with doc_count <=
        # max_doc_count, ascending count order. Same single groupBy as
        # terms; the rarity filter runs post-agg on key-cardinality
        # rows. (ES uses a CuckooFilter approximation; exact here.)
        max_dc = int(abody.get("max_doc_count", 1))
        key = F.col(abody["field"]).alias("key")
        grouped = (filtered.groupBy(key)
                   .agg(F.count(F.lit(1)).alias("doc_count"),
                        *metric_cols)
                   .filter(F.col("doc_count") <= max_dc))
        return grouped.orderBy(F.asc("doc_count"), F.asc("key"))

    if atype in ("range", "date_range"):
        col = F.col(abody["field"])

        def bound(v):
            # date_range bounds are date/timestamp strings
            return (F.lit(v).cast("timestamp") if atype == "date_range"
                    else F.lit(v))

        conds = []
        for r in abody["ranges"]:
            frm, to = r.get("from"), r.get("to")
            cond = F.lit(True)
            if frm is not None:
                cond = cond & (col >= bound(frm))  # ES: from inclusive
            if to is not None:
                cond = cond & (col < bound(to))    # ES: to exclusive
            key = r.get("key") or f"{'*' if frm is None else frm}-" \
                                  f"{'*' if to is None else to}"
            conds.append((key, cond))
        return _exploded_buckets(filtered, conds, metric_cols)

    if atype == "significant_terms":
        # one scan: per-key conditional counts give foreground
        # (query-matching) and background (all docs) in the same
        # aggregate; score is the rate lift fg_rate / bg_rate.
        # (ES uses JLH by default — same ranking intent, simpler and
        # oracle-checkable.)
        size = abody.get("size", 10)
        cond = translate_query(body.get("query"))
        key = F.col(abody["field"]).alias("key")
        per_key = (df.groupBy(key)
                   .agg(F.count(F.when(cond, 1)).alias("doc_count"),
                        F.count(F.lit(1)).alias("bg_count")))
        # corpus totals: one-row aggregate of the (key-cardinality)
        # per_key frame, broadcast back — no single-partition window
        totals = per_key.agg(F.sum("doc_count").alias("fg_total"),
                             F.sum("bg_count").alias("bg_total"))
        scored = (broadcast_scalars(per_key, totals)
                  .filter(F.col("doc_count") > 0)
                  .select("key", "doc_count", "bg_count",
                          F.round((F.col("doc_count") / F.col("fg_total"))
                                  / (F.col("bg_count") / F.col("bg_total")),
                                  4).alias("score")))
        return scored.orderBy(F.desc("score"), F.asc("key")).limit(size)

    if atype == "significant_text":
        # significant_terms over a FREE-TEXT field's analyzed tokens:
        # explode each doc's DISTINCT tokens (ES counts document
        # frequency, not occurrences) tagged with the foreground
        # condition, then the identical conditional-count lift
        # scoring. One explode + one shuffle on the token.
        from parquet_generator_spark.operators.text import toks_spark

        size = abody.get("size", 10)
        cond = translate_query(body.get("query"))
        tok = df.select(
            cond.alias("fg"),
            F.explode(F.expr(
                f"array_distinct({toks_spark(abody['field'])})"))
            .alias("key"))
        per_key = (tok.groupBy("key")
                   .agg(F.count(F.when(F.col("fg"), 1))
                        .alias("doc_count"),
                        F.count(F.lit(1)).alias("bg_count")))
        totals = per_key.agg(F.sum("doc_count").alias("fg_total"),
                             F.sum("bg_count").alias("bg_total"))
        scored = (broadcast_scalars(per_key, totals)
                  .filter(F.col("doc_count") > 0)
                  .select("key", "doc_count", "bg_count",
                          F.round((F.col("doc_count")
                                   / F.col("fg_total"))
                                  / (F.col("bg_count")
                                     / F.col("bg_total")),
                                  4).alias("score")))
        return scored.orderBy(F.desc("score"), F.asc("key")).limit(size)

    if atype == "composite":
        # ES's scale-path agg: buckets streamed in key order with
        # keyset pagination — exactly a groupBy ordered by its keys;
        # the `after` cursor becomes a lexicographic keyset predicate
        size = abody.get("size", 10)
        names, key_cols = [], []
        for src in abody["sources"]:
            (name, spec), = src.items()
            (stype, sbody), = spec.items()
            names.append(name)
            if stype == "terms":
                key_cols.append(F.col(sbody["field"]).alias(name))
            elif stype == "date_histogram":
                unit = {"day": "day", "hour": "hour",
                        "week": "week", "month": "month",
                        "year": "year", "1d": "day", "1h": "hour"}[
                    sbody.get("calendar_interval",
                              sbody.get("fixed_interval", "day"))]
                key_cols.append(F.date_format(
                    F.date_trunc(unit, F.col(sbody["field"])),
                    "yyyy-MM-dd HH:mm:ss").alias(name))
            elif stype == "histogram":
                iv = float(sbody["interval"])
                key_cols.append(
                    (F.floor(F.col(sbody["field"]) / iv) * iv)
                    .alias(name))
            else:
                raise ValueError(
                    f"unsupported composite source {stype!r}")
        grouped = (filtered.groupBy(*key_cols)
                   .agg(F.count(F.lit(1)).alias("doc_count"),
                        *metric_cols))
        after = body.get("after") or abody.get("after")
        if after:
            pred, eq = F.lit(False), F.lit(True)
            for n in names:
                pred = pred | (eq & (F.col(n) > F.lit(after[n])))
                eq = eq & (F.col(n) == F.lit(after[n]))
            grouped = grouped.filter(pred)
        return grouped.orderBy(*[F.asc(n) for n in names]).limit(size)

    if atype == "terms":
        # ES terms semantics for null/absent keys: docs missing the
        # field are EXCLUDED unless "missing" names a substitute
        # bucket (we previously grouped nulls into a null-key bucket
        # — a silent divergence; fields in the driver corpus carry no
        # nulls, so no green row depended on it)
        fcol = F.col(abody["field"])
        if "missing" in abody:
            filtered = filtered.withColumn(
                abody["field"], F.coalesce(fcol, F.lit(abody["missing"])))
        else:
            filtered = filtered.filter(fcol.isNotNull())
        key = F.col(abody["field"]).alias("key")
        size = abody.get("size", 10)
        th = next((s["top_hits"] for s in sub.values() if "top_hits" in s),
                  None)
        if th is not None:
            if len(sub) != 1:
                raise ValueError("top_hits must be the only sub-agg")
            return _top_hits(filtered, F.col(abody["field"]), size, th)
        inner = next(((n, s["terms"]) for n, s in sub.items()
                      if "terms" in s), None)
        if inner is not None:
            if len(sub) != 1:
                raise ValueError("nested terms must be the only sub-agg")
            return _nested_terms(filtered, abody, inner[1])
        inc = abody.get("include")
        if isinstance(inc, dict):
            # ES terms partitioning ({"partition": p,
            # "num_partitions": P}): page a huge-cardinality terms
            # agg. The hash filter applies to the RAW key BEFORE the
            # groupBy (map-side), so each page shuffles ~1/P of the
            # keys — the same memory bound ES partitions for.
            # DOCUMENTED DIVERGENCE: the partition hash is md5-based
            # (engine-reproducible), not ES's murmur3 — pages cover
            # the key space exactly once either way.
            p = int(inc["partition"])
            np_ = int(inc["num_partitions"])
            if not 0 <= p < np_:
                raise ValueError("terms partition out of range")
            hcol = F.conv(F.substring(F.md5(
                F.col(abody["field"]).cast("string")), 1, 8),
                16, 10).cast("long") % np_
            filtered = filtered.filter(hcol == p)
        grouped = (filtered.groupBy(key)
                   .agg(F.count(F.lit(1)).alias("doc_count"), *metric_cols))
        # ES terms include/exclude: whole-key-anchored regex filters
        # on the BUCKET key — post-agg on key-cardinality rows
        if isinstance(inc, str):
            grouped = grouped.filter(
                F.col("key").rlike(f"^(?:{inc})$"))
        # ES terms min_doc_count: prune sparse buckets post-agg (the
        # frame is already key-cardinality; pruning happens before
        # the bucket sort so the top-N never includes them)
        mdc = int(abody.get("min_doc_count", 1))
        if mdc > 1:
            grouped = grouped.filter(F.col("doc_count") >= mdc)
        if "exclude" in abody:
            grouped = grouped.filter(
                ~F.col("key").rlike(f"^(?:{abody['exclude']})$"))
        # ES bucket order: default doc_count desc; "order" overrides
        # with _count / _key / a sub-metric name — all of which are
        # columns of the (small, post-agg) bucket frame
        order = abody.get("order")
        if order:
            (okey, odir), = order.items()
            ocol = F.col({"_count": "doc_count", "_key": "key"}
                         .get(okey, okey))
            first = ocol.desc() if odir == "desc" else ocol.asc()
            grouped = grouped.orderBy(first, F.asc("key")).limit(size)
        else:
            grouped = (grouped.orderBy(F.desc("doc_count"), F.asc("key"))
                       .limit(size))
        if sub_pipes:
            grouped = _apply_pipelines(grouped, sub_pipes, serial_ok=False)
        return grouped
    if atype == "date_histogram":
        interval = abody.get("calendar_interval",
                             abody.get("fixed_interval", "day"))
        trunc_unit = {"day": "day", "hour": "hour", "week": "week",
                      "month": "month", "year": "year",
                      "1d": "day", "1h": "hour"}[interval]
        key = F.date_format(
            F.date_trunc(trunc_unit, F.col(abody["field"])),
            "yyyy-MM-dd HH:mm:ss").alias("key")
        grouped = (filtered.groupBy(key)
                   .agg(F.count(F.lit(1)).alias("doc_count"), *metric_cols))
        if abody.get("min_doc_count", 1) == 0:
            # ES zero-filled buckets: build the full calendar axis
            # (from extended_bounds, or the data min/max — one extra
            # scalar agg) and left-join the real buckets onto it.
            # The axis is bucket-cardinality (days/hours), so the join
            # is a broadcast; empty buckets get doc_count=0 and null
            # metrics, exactly ES's shape.
            ivl = {"day": "1 day", "hour": "1 hour", "week": "1 week",
                   "month": "1 month", "year": "1 year"}[trunc_unit]
            eb = abody.get("extended_bounds")
            if eb:
                bounds = filtered.limit(1).select(
                    F.lit(eb["min"]).cast("timestamp").alias("lo"),
                    F.lit(eb["max"]).cast("timestamp").alias("hi"))
            else:
                bounds = filtered.agg(F.min(abody["field"]).alias("lo"),
                                      F.max(abody["field"]).alias("hi"))
            axis = (bounds.select(F.explode(F.expr(
                f"sequence(date_trunc('{trunc_unit}', lo), "
                f"date_trunc('{trunc_unit}', hi), interval {ivl})"))
                .alias("t"))
                .select(F.date_format("t", "yyyy-MM-dd HH:mm:ss")
                        .alias("key")))
            grouped = (axis.join(grouped, "key", "left")
                       .withColumn("doc_count",
                                   F.coalesce(F.col("doc_count"),
                                              F.lit(0).cast("long"))))
        for n, fld in sub_ccs:
            # ES cumulative_cardinality (distinct values seen up to
            # each bucket), EXACTLY, without per-bucket HLL state:
            # each distinct value contributes only at its FIRST bucket
            # (one groupBy on the value), per-bucket first-timer
            # counts are bucket-cardinality, and the running sum is a
            # window over that small frame. Corpus-scale work is the
            # one value-keyed shuffle.
            from pyspark.sql import Window
            firsts = (filtered.select(F.col(fld).alias("_v"), key)
                      .groupBy("_v").agg(F.min("key").alias("key")))
            news = (firsts.groupBy("key")
                    .agg(F.count(F.lit(1)).alias("_new")))
            cum = Window.orderBy(F.asc("key")).rowsBetween(
                Window.unboundedPreceding, 0)
            grouped = (grouped.join(news, "key", "left")
                       .withColumn(
                           n,
                           F.sum(F.coalesce(F.col("_new"),
                                            F.lit(0).cast("long")))
                           .over(cum))
                       .drop("_new"))
        if sub_pipes:
            grouped = _apply_pipelines(grouped, sub_pipes, serial_ok=True)
        return grouped.orderBy(F.asc("key"))  # date_histogram: key order
    if atype == "histogram":
        interval = float(abody["interval"])
        key = (F.floor(F.col(abody["field"]) / interval) * interval
               ).alias("key")
        grouped = (filtered.groupBy(key)
                   .agg(F.count(F.lit(1)).alias("doc_count"), *metric_cols))
        if abody.get("min_doc_count", 1) == 0:
            # zero-filled numeric buckets, like the date_histogram
            # path: build the bin axis from the data bounds (one
            # scalar aggregate — bin-cardinality, bounded by the
            # value range / interval, not by data volume) and
            # left-join the real buckets onto it
            bounds = filtered.agg(
                F.min(abody["field"]).alias("lo"),
                F.max(abody["field"]).alias("hi"))
            axis = (bounds.select(F.explode(F.expr(
                f"transform(sequence(cast(floor(lo / {interval}) "
                f"AS BIGINT), cast(floor(hi / {interval}) AS BIGINT)), "
                f"b -> b * cast({interval!r} AS DOUBLE))")).alias("key")))
            grouped = (axis.join(grouped, "key", "left")
                       .withColumn("doc_count",
                                   F.coalesce(F.col("doc_count"),
                                              F.lit(0).cast("long"))))
        if sub_pipes:
            grouped = _apply_pipelines(grouped, sub_pipes, serial_ok=True)
        return grouped.orderBy(F.asc("key"))
    raise ValueError(f"unsupported bucket agg {atype!r}")


def function_score_search(df: DataFrame, body: dict,
                          id_col: str = "doc_id") -> DataFrame:
    """ES ``function_score`` with ``field_value_factor``: docs
    matching the inner query are ranked by factor * modifier(field).
    Modifiers follow ES semantics (log1p/log2p are COMMON logarithms
    in ES; ln1p is the natural one; none/sqrt pass through). The
    score is rounded so engines agree bit-for-bit, and the top-k is
    orderBy().limit() -> TakeOrderedAndProject with rank derived over
    the k survivors — never a global ranking window."""
    fvf = body["field_value_factor"]
    field, factor = fvf["field"], float(fvf.get("factor", 1.0))
    modifier = fvf.get("modifier", "none")
    x = F.col(field).cast("double")
    mod = {
        "none": x,
        "log1p": F.log10(x + 1.0),
        "ln1p": F.log(x + 1.0),
        "sqrt": F.sqrt(x),
    }[modifier]
    size = body.get("size", 10)
    scored = (df.filter(translate_query(body.get("query")))
              .select(id_col, F.round(F.lit(factor) * mod, 4)
                      .alias("score")))
    top = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(size)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", id_col, "score").orderBy("rank"))


def collapse_search(df: DataFrame, body: dict,
                    id_col: str = "doc_id") -> DataFrame:
    """ES field ``collapse``: one top hit per distinct value of the
    collapse field, ordered by the search sort. The per-group top-1
    is a window PARTITIONED by the collapse field (keyed shuffle,
    never global); the final ordering runs over group-cardinality
    rows."""
    from pyspark.sql import Window

    coll = body["collapse"]["field"]
    (sort_field, sort_dir), = body["sort"][0].items()
    sort_col = F.col(sort_field)
    order = [sort_col.desc() if sort_dir == "desc" else sort_col.asc(),
             F.asc(id_col)]
    size = body.get("size")
    w = Window.partitionBy(coll).orderBy(*order)
    ranked = (df.filter(translate_query(body.get("query")))
              .withColumn("_rn", F.row_number().over(w)))
    inner = body["collapse"].get("inner_hits")
    if inner:
        # ES collapse inner_hits: beside each group's top hit, expose
        # the group's next `size` hits under the same sort — the SAME
        # keyed rank window serves both (hit_rank 1 = the collapsed
        # hit, 2..size+1 = the inner hits); no second scan, no join
        n = int(inner.get("size", 3))
        return (ranked.filter(F.col("_rn") <= n + 1)
                .select(coll, F.col("_rn").alias("hit_rank"),
                        id_col, sort_field)
                .orderBy(F.asc(coll), F.asc("hit_rank")))
    out = (ranked.filter(F.col("_rn") == 1)
           .select(coll, id_col, sort_field)
           .orderBy(*order))
    return out.limit(size) if size is not None else out
