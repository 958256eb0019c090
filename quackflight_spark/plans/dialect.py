"""SQL dialect frontend — DuckDB/ClickHouse-isms → Spark SQL.

The reference accepts DuckDB SQL plus ClickHouse idioms and does a handful
of pre-parse string rewrites itself (SURVEY.md §4.1):

- FORMAT-clause extraction        reference main.py:252-259
- ATTACH/USE prefix injection     reference main.py:284, 326
- catalog-prefix stripping        reference main.py:769-777 (whitespace
                                  token hack — we do it on tokens)
- INSERT routing                  reference main.py:228-229

Everything else it delegates to DuckDB's parser. What Spark 4.1's own
grammar already parses passes through unchanged:

- x::TYPE for Spark type names (a `Cast`, named like CAST(x AS TYPE))
- `FROM t SELECT …` and `|>` pipes
- GROUP BY ALL / ORDER BY ALL, `* EXCEPT (cols)`, `==`

What Spark rejects is rewritten before spark.sql():

- zero-arg count()          → count(*)          (ClickHouse, README.md:5)
- DuckDB type names after `::` (varchar, text, int8, hugeint, …) → Spark's
- QUALIFY <pred>            → (<pred>) AS __q beside the select list,
                              filtered in an outer query; ORDER BY on a
                              column the projection drops rides along as
                              a hidden column
- DISTINCT ON (k) … ORDER BY o → row_number() OVER (PARTITION BY k …) = 1
- trailing comma before FROM → dropped
- read_parquet('p')         → parquet.`p` (Spark's native path table)
- read_parquet.col          → col
- multiIf(c1,v1,…,else)     → CASE WHEN chain
- SELECT * EXCLUDE (cols)   → * EXCEPT (cols)  (Spark's spelling)
- FROM-first without SELECT (`FROM t [WHERE …]`) → SELECT * FROM …
- SUMMARIZE t / SHOW ALL TABLES → DataFrame/catalog calls in run_script

`transpile` tokenizes a statement once and runs each rewrite as a function
from tokens to tokens, so no rewrite ever sees the inside of a string
literal, a quoted identifier or a comment — never blind string replace
(the reference's own whitespace-split rewrite is cited in SURVEY §7 as a
bug not to replicate).

run_script() implements the reference's multi-statement execute-
sequentially-return-last semantics (examples/flight_read.py:7).
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# lexer

# String literals end where Spark's parser ends them: a quote is escaped by
# doubling it or by a backslash (`'it\'s'`).
_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<hint>/\*\+.*?\*/)
    | (?P<comment>--[^\n]*|/\*.*?\*/)
    | (?P<squote>'(?:[^'\\]|\\.|'')*')
    | (?P<dquote>"(?:[^"\\]|\\.|"")*")
    | (?P<bquote>`(?:[^`]|``)*`)
    | (?P<dcolon>::)
    | (?P<op><=|>=|<>|!=|==|\|\||->>|->)
    | (?P<punct>[(),;*<>=+\-/%.\[\]])
    | (?P<word>[A-Za-z_][A-Za-z0-9_$]*)
    | (?P<num>\d+(?:\.\d*)?(?:[eE][+-]?\d+)?)
    | (?P<other>.)
    """,
    re.VERBOSE | re.DOTALL,
)


class Tok(NamedTuple):
    kind: str
    text: str
    pos: int | None = None  # source offsets; None for a token a rewrite made
    end: int | None = None

    def is_word(self, *names: str) -> bool:
        return self.kind == "word" and self.text.upper() in names


_NONE = Tok("end", "")


def tokenize(sql: str) -> list[Tok]:
    """The significant tokens of `sql`: whitespace and comments are dropped
    (optimizer hints `/*+ … */` are kept), so a rewrite can never move
    text into a `--` comment."""
    return [Tok(m.lastgroup, m.group(), m.start(), m.end()) for m in _TOKEN_RE.finditer(sql)
            if m.lastgroup not in ("ws", "comment")]


def _frag(sql: str) -> list[Tok]:
    """Tokens of a fixed fragment a rewrite inserts (rendered one space
    apart)."""
    return [t._replace(pos=None, end=None) for t in tokenize(sql)]


def render(toks: list[Tok]) -> str:
    """Tokens → SQL text: two tokens that touched in the source still
    touch (`a.b`, `10L`, `<=>`); every other pair gets one space."""
    out, end = [], None
    for t in toks:
        if out and (t.pos is None or t.pos != end):
            out.append(" ")
        out.append(t.text)
        end = t.end
    return "".join(out)


def _at(toks: list[Tok], i: int) -> Tok:
    return toks[i] if 0 <= i < len(toks) else _NONE


def _top(toks: list[Tok], *words: str, start: int = 0, stop: int | None = None) -> list[int]:
    """Indices in toks[start:stop] of `words` that stand outside any
    parentheses opened there."""
    depth, out = 0, []
    for i in range(start, len(toks) if stop is None else stop):
        depth += {"(": 1, ")": -1}.get(toks[i].text, 0)
        if depth == 0 and toks[i].is_word(*words):
            out.append(i)
    return out


def _close(toks: list[Tok], i: int) -> int:
    """Index of the parenthesis that closes the one at toks[i]."""
    depth = 0
    for j in range(i, len(toks)):
        depth += {"(": 1, ")": -1}.get(toks[j].text, 0)
        if depth == 0:
            return j
    return len(toks)


def _split(toks: list[Tok]) -> list[list[Tok]]:
    """The comma-separated items of `toks` that stand outside parentheses."""
    items: list[list[Tok]] = [[]]
    depth = 0
    for t in toks:
        depth += {"(": 1, ")": -1}.get(t.text, 0)
        if depth == 0 and t.text == ",":
            items.append([])
        else:
            items[-1].append(t)
    return items


# ---------------------------------------------------------------------------
# FORMAT clause (reference main.py:252-259)

def sanitize_query(query: str) -> tuple[str, str | None]:
    """Strip a trailing `FORMAT <fmt>` clause, returning (sql, fmt|None) —
    the reference's sanitize_query behavior (main.py:252-259). Only the
    statement's last tokens count: FORMAT inside a string or a comment is
    not a clause."""
    toks = tokenize(query)
    end = len(toks) - (_at(toks, len(toks) - 1).text == ";")
    if end >= 2 and toks[end - 2].is_word("FORMAT") and toks[end - 1].kind == "word":
        body = toks[: end - 2]
        while body and body[-1].text == ";":
            body.pop()
        return render(body), toks[end - 1].text
    return query.strip(), None


# ---------------------------------------------------------------------------
# rewrites: each maps the statement's tokens to new tokens

def _leading_from(toks: list[Tok]) -> list[Tok]:
    """DuckDB's FROM-first shorthand without a SELECT (`FROM t WHERE …`)
    → `SELECT * FROM …`. Spark parses bare `FROM t` and `FROM t SELECT a`
    itself, but not a FROM-first WHERE."""
    if toks and toks[0].is_word("FROM") and not _top(toks, "SELECT"):
        return [*_frag("SELECT *"), *toks]
    return toks


def _read_parquet(toks: list[Tok]) -> list[Tok]:
    """read_parquet('path') → parquet.`path` (Spark's path-table syntax,
    keeping scan pushdown); table-function-qualified columns
    (`read_parquet.town`, README demo) → bare `town`."""
    out, i = [], 0
    while i < len(toks):
        t, nxt = toks[i], [x.text for x in toks[i + 1 : i + 4]]
        if t.is_word("READ_PARQUET") and nxt[:1] == ["."]:
            i += 2
            continue
        if t.is_word("READ_PARQUET") and nxt[::2] == ["(", ")"] and toks[i + 2].kind == "squote":
            out.append(Tok("word", f"parquet.`{toks[i + 2].text[1:-1]}`", t.pos, toks[i + 3].end))
            i += 4
            continue
        out.append(t)
        i += 1
    return out


def _multiif(toks: list[Tok]) -> list[Tok]:
    """multiIf(c1, v1, c2, v2, …, else) → CASE WHEN c1 THEN v1 … ELSE else
    END (variadic, so structural, not a fixed-arity template)."""
    out, i = [], 0
    while i < len(toks):
        if not (toks[i].is_word("MULTIIF") and _at(toks, i + 1).text == "("):
            out.append(toks[i])
            i += 1
            continue
        j = _close(toks, i + 1)
        args = [_multiif(a) for a in _split(toks[i + 2 : j])]
        out.append(Tok("word", "CASE"))
        for cond, val in zip(args[:-1:2], args[1::2]):
            out += [Tok("word", "WHEN"), *cond, Tok("word", "THEN"), *val]
        out += [Tok("word", "ELSE"), *args[-1], Tok("word", "END")]
        i = j + 1
    return out


def _count_star(toks: list[Tok]) -> list[Tok]:
    """count() → count(*) (Spark rejects the ClickHouse zero-arg form)."""
    out = []
    for i, t in enumerate(toks):
        if t.text == ")" and _at(toks, i - 1).text == "(" and _at(toks, i - 2).is_word("COUNT"):
            out.append(Tok("punct", "*", t.pos, t.pos))  # zero-width: renders count(*)
        out.append(t)
    return out


def _trailing_comma(toks: list[Tok]) -> list[Tok]:
    """`SELECT a, b, FROM t` → drop the comma before FROM."""
    out: list[Tok] = []
    for t in toks:
        if t.is_word("FROM") and out and out[-1].text == ",":
            out.pop()
        out.append(t)
    return out


def _star_exclude(toks: list[Tok]) -> list[Tok]:
    """DuckDB `* EXCLUDE (cols)` → Spark `* EXCEPT (cols)` — same
    semantics, different keyword. Only the word right after a `*` is
    rewritten, so a column or alias named exclude survives."""
    return [t._replace(text="EXCEPT") if t.is_word("EXCLUDE") and _at(toks, i - 1).text == "*"
            else t for i, t in enumerate(toks)]


# DuckDB type names Spark's `::` rejects (Spark parses its own names and
# parameterized types such as decimal(10,2) and varchar(10) itself)
_TYPE_ALIASES = {"INT4": "INT", "INT8": "BIGINT", "FLOAT8": "DOUBLE", "FLOAT4": "FLOAT",
                 "UBIGINT": "BIGINT", "UINTEGER": "BIGINT", "VARCHAR": "STRING",
                 "TEXT": "STRING", "BLOB": "BINARY", "UTINYINT": "SMALLINT",
                 "USMALLINT": "INT", "HUGEINT": "DECIMAL(38,0)"}


def _cast_aliases(toks: list[Tok]) -> list[Tok]:
    """x::varchar → x::STRING: only the type name after a native `::`."""
    return [t._replace(text=_TYPE_ALIASES[t.text.upper()])
            if _at(toks, i - 1).kind == "dcolon" and t.text.upper() in _TYPE_ALIASES
            and _at(toks, i + 1).text != "(" else t for i, t in enumerate(toks)]


def _distinct_on(toks: list[Tok]) -> list[Tok]:
    """SELECT DISTINCT ON (keys) cols FROM rest [ORDER BY o] →
    row_number() OVER (PARTITION BY keys ORDER BY o|keys) = 1 rewrite
    (deterministic pick per key group, DuckDB semantics). Only the
    statement's own SELECT and top-level ORDER BY count."""
    sel = _top(toks, "SELECT")[:1]
    if not sel or [t.text.upper() for t in toks[sel[0] + 1 : sel[0] + 4]] != ["DISTINCT", "ON", "("]:
        return toks
    s, k = sel[0], _close(toks, sel[0] + 3)
    froms = _top(toks, "FROM", start=k + 1)
    if not froms:
        return toks
    orders = _top(toks, "ORDER", start=froms[0])
    src_end = orders[0] if orders else len(toks)
    keys = toks[s + 4 : k]
    order = toks[src_end + 2 :] if orders else keys
    return [
        *toks[:s], *_frag("SELECT * EXCEPT (__rn) FROM (SELECT"), *toks[k + 1 : froms[0]],
        *_frag(", row_number() OVER (PARTITION BY"), *keys, *_frag("ORDER BY"), *order,
        *_frag(") AS __rn"), *toks[froms[0] : src_end], *_frag(") WHERE __rn = 1"),
    ]


def _qualify(toks: list[Tok]) -> list[Tok]:
    """QUALIFY <pred> → the same query with (<pred>) AS __q added to its
    select list, filtered and dropped outside:

        SELECT * EXCEPT (__q) FROM (SELECT <list>, (<pred>) AS __q FROM …
        [GROUP BY …]) WHERE __q [ORDER BY … / LIMIT …]

    GROUP BY stays inside, so QUALIFY works over aggregates; <pred> still
    sees source columns outside the projection; DISTINCT applies after the
    filter, as in DuckDB. Select-list aliases in <pred> are replaced by
    their expressions, because Spark rejects a lateral alias inside
    OVER (…) and under GROUP BY ALL — except an alias whose name the select
    list also uses (`CAST(d AS DATE) AS d`): there DuckDB binds the source
    column first, and so does Spark when the name is left alone. An ORDER
    BY item that names no output column (`ORDER BY <source column>`) is
    computed inside as a hidden __o<k> column and dropped with __q."""
    quals = _top(toks, "QUALIFY")
    sels = _top(toks, "SELECT", stop=quals[0]) if quals else []
    froms = _top(toks, "FROM", start=sels[0], stop=quals[0]) if sels else []
    if not froms:
        return toks
    q, s, f = quals[0], sels[0], froms[0]
    tail = (_top(toks, "ORDER", "LIMIT", start=q) or [len(toks)])[0]
    distinct = _at(toks, s + 1).is_word("DISTINCT")
    items = _split(toks[s + 1 + _at(toks, s + 1).is_word("DISTINCT", "ALL") : f])
    exprs = [it[:-2] if len(it) > 2 and it[-2].is_word("AS") else it for it in items]
    used = {t.text.lower() for e in exprs for t in e if t.kind == "word"}
    aliases = {it[-1].text.lower(): e for it, e in zip(items, exprs)
               if len(e) < len(it) and it[-1].text.lower() not in used}
    pred = []
    for i in range(q + 1, tail):
        t = toks[i]
        if (t.kind == "word" and t.text.lower() in aliases and toks[i - 1].text != "."
                and _at(toks, i + 1).text not in (".", "(")):
            pred += [Tok("punct", "("), *aliases[t.text.lower()], Tok("punct", ")")]
        else:
            pred.append(t)
    outputs = {it[-1].text.lower() for it in items if it and it[-1].kind == "word"}
    group_all = any(_at(toks, g + 2).is_word("ALL") for g in _top(toks, "GROUP", start=f, stop=q))
    star = any(t.text == "*" and _at(e, j - 1).text in ("", ".")
               for e in exprs for j, t in enumerate(e))
    # a hidden column would change what DISTINCT or GROUP BY ALL groups on;
    # under a star the outer query sees the source columns already
    keep = distinct or group_all or star
    order_by = _at(toks, tail).is_word("ORDER")
    end = (_top(toks, "LIMIT", "OFFSET", start=tail) or [len(toks)])[0]
    drop, hidden, order = ["__q"], [], []
    for item in _split(toks[tail + 2 : end]) if order_by else []:
        k = (_top(item, "ASC", "DESC", "NULLS") or [len(item)])[0]
        if (keep or _at(item, 0).kind == "num" or _at(item, 0).is_word("ALL")
                or any(t.kind == "word" and t.text.lower() in outputs for t in item[:k])):
            order += [Tok("punct", ","), *item]
        else:
            drop.append(f"__o{len(drop) - 1}")
            hidden += [*_frag(", ("), *item[:k], *_frag(f") AS {drop[-1]}")]
            order += [*_frag(f", {drop[-1]}"), *item[k:]]
    rest = [*_frag("ORDER BY"), *order[1:], *toks[end:]] if order_by else toks[tail:]
    return [
        *toks[:s], *_frag(f"SELECT * EXCEPT ({', '.join(drop)}) FROM ("), *toks[s:f], *hidden,
        *_frag(", ("), *pred, *_frag(") AS __q"), *toks[f:q], *_frag(") WHERE __q"), *rest,
    ]


def strip_catalog_prefix(sql: str, catalog: str = "deltalake") -> str:
    """Remove a `<catalog>.` prefix from table references — the reference
    does this for Flight tickets with a whitespace split (main.py:769-777,
    noted in SURVEY §7 as breaking quoted identifiers); we do it on
    tokens."""
    toks = tokenize(sql)
    drop = {j for i, t in enumerate(toks)
            if t.kind == "word" and t.text == catalog and _at(toks, i + 1).text == "."
            for j in (i, i + 1)}
    return render([t for i, t in enumerate(toks) if i not in drop])


# ---------------------------------------------------------------------------
# public API

# order matters: QUALIFY runs last, on the select list the others left
_REWRITES = (_leading_from, _read_parquet, _multiif, _count_star, _trailing_comma,
             _star_exclude, _cast_aliases, _distinct_on, _qualify)


def transpile(sql: str) -> str:
    """DuckDB/ClickHouse-flavored SQL → Spark SQL (single statement)."""
    sql, _fmt = sanitize_query(sql)
    toks = tokenize(sql)
    for rewrite in _REWRITES:
        toks = rewrite(toks)
    return render(toks)


def split_statements(script: str) -> list[str]:
    """Split a multi-statement script on semicolons outside quotes and
    comments."""
    stmts, cur = [], []
    for t in [*tokenize(script), Tok("punct", ";")]:
        if t.text != ";":
            cur.append(t)
        elif cur:
            stmts.append(render(cur))
            cur = []
    return stmts


def run_script(spark: SparkSession, script: str) -> DataFrame | None:
    """Execute a multi-statement script sequentially, returning the last
    statement's result — the reference's DuckDB `execute` behavior for
    tickets like 'CREATE TABLE t AS ...; SELECT * FROM t;'
    (examples/flight_read.py:7)."""
    result: DataFrame | None = None
    from quackflight_spark.serving.namespaces import maybe_handle_attach

    for stmt in split_statements(script):
        if maybe_handle_attach(spark, stmt):
            # ATTACH '<file>' AS x / DETACH x — namespace-bridge analog of
            # the reference's verbatim DuckDB forwarding (main.py:284)
            result = None
            continue
        toks = tokenize(stmt)
        if [t.text.upper() for t in toks] == ["SHOW", "ALL", "TABLES"]:
            # DuckDB `SHOW ALL TABLES` (the reference's canned
            # list_schemas flight ticket, main.py:515-519): tables across
            # every database. Spark SHOW TABLES is per-database, so this
            # is a catalog-API union — driver-side metadata, no job.
            # Exactly three tokens: a FROM/LIKE suffix is NOT this
            # statement and falls through to spark.sql for a loud error
            # rather than silently ignoring the qualifier. Temp views are
            # session-global (listTables repeats them per database) —
            # list them once under their own pseudo-database.
            tables = [
                (db.name, t)
                for db in spark.catalog.listDatabases()
                for t in spark.catalog.listTables(db.name)
            ]
            rows = [(d, t.name, (t.tableType or "table").lower())
                    for d, t in tables if t.tableType != "TEMPORARY"]
            rows += sorted({("temp", t.name, "view")
                            for _, t in tables if t.tableType == "TEMPORARY"})
            result = spark.createDataFrame(
                rows or [], "database STRING, name STRING, table_type STRING"
            )
        elif toks and toks[0].is_word("SUMMARIZE"):
            # DuckDB SUMMARIZE <table-or-query>: per-column summary stats.
            # Spark-native form: DataFrame.summary() over the target —
            # column set differs from DuckDB's (documented dialect delta).
            rest = render(toks[1:])
            target = (
                spark.table(rest)
                if len(rest.split()) == 1
                else spark.sql(transpile(rest))
            )
            result = target.summary()
        else:
            result = spark.sql(transpile(stmt))
    return result
