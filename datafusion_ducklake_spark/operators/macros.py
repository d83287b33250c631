"""Catalog-persisted SQL macros (corpus: sql/macros/, e.g.
test_scalar_table_macros.test — DuckLake stores macros in
``ducklake_macro`` / ``_impl`` / ``_parameters``).

Scalar macros substitute as a parenthesized expression; table macros as
an inline subquery. Expansion is TEXTUAL and dialect-agnostic: the macro
body (written by this engine or by DuckDB) is spliced into the query
with parameters bound to the call-site argument text, then flows through
the session's normal view/CDC rewriting — so bodies referencing DuckLake
tables resolve exactly like hand-written SQL. Only registered macro
names expand; anything else (builtin functions) is left untouched.
Nested/recursive expansion is depth-bounded.
"""

from __future__ import annotations

import re

from ..errors import InvalidConfig

_MAX_DEPTH = 10


def split_top_level(s: str, angle: bool = False) -> list[str]:
    """Split ``s`` on commas outside quotes and brackets, dropping empty
    items (SET-clause commas can appear inside function calls and string
    literals). ``angle=True`` also nests on <...> — for column-definition
    lists where STRUCT<...>/MAP<...> carry commas; never for expressions,
    where < and > are comparison operators."""
    parts, depth, cur, quote = [], 0, [], None
    opens = "([<" if angle else "(["
    closes = ")]>" if angle else ")]"
    for ch in s:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
            cur.append(ch)
        elif ch in opens:
            depth += 1
            cur.append(ch)
        elif ch in closes:
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return [p for p in parts if p]


def _sub_outside_literals(text: str, pattern: str, repl) -> str:
    """re.sub applied only outside single-quoted SQL literals."""
    parts = re.split(r"('(?:[^']|'')*')", text)
    for i in range(0, len(parts), 2):
        parts[i] = re.sub(pattern, repl, parts[i])
    return "".join(parts)


def _bind(body: str, params: list[tuple], args: list[str],
          name: str) -> str:
    if len(args) > len(params):
        raise InvalidConfig(
            f"macro {name}: {len(args)} arguments for "
            f"{len(params)} parameters")
    bound = {}
    for i, (pname, default) in enumerate(params):
        if i < len(args):
            bound[pname] = args[i]
        elif default is not None:
            bound[pname] = default
        else:
            raise InvalidConfig(
                f"macro {name}: missing argument for parameter {pname!r}")
    out = body
    for pname, value in bound.items():
        out = _sub_outside_literals(
            out, rf"\b{re.escape(pname)}\b", lambda _m, v=value: f"({v})")
    return out


def _find_call(query: str, names: set[str]):
    """First (start, end, name, args) macro call outside string literals,
    or None. ``end`` is the index just past the closing paren."""
    quote = None
    i = 0
    while i < len(query):
        ch = query[i]
        if quote:
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch == "'":
            quote = ch
            i += 1
            continue
        m = re.match(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?", query[i:])
        if m and (i == 0 or not (query[i - 1].isalnum()
                                 or query[i - 1] in "._`")):
            word = m.group(0)
            j = i + len(word)
            while j < len(query) and query[j].isspace():
                j += 1
            if word.lower() in names and j < len(query) and query[j] == "(":
                depth, k, q2 = 0, j, None
                while k < len(query):
                    c = query[k]
                    if q2:
                        if c == q2:
                            q2 = None
                    elif c == "'":
                        q2 = c
                    elif c == "(":
                        depth += 1
                    elif c == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    k += 1
                if depth != 0:
                    raise InvalidConfig(
                        f"macro {word}: unbalanced parentheses")
                args = split_top_level(query[j + 1:k])
                return i, k + 1, word, args
            i += len(word)
            continue
        i += 1
    return None


def _is_table_context(query: str, start: int) -> bool:
    before = query[:start].rstrip()
    return bool(re.search(r"(?:\bFROM|\bJOIN|,)\s*$", before, re.I))


def expand_macros(query: str, macros: list) -> str:
    """Expand every registered macro call in ``query``; macros is the
    provider's list of MacroMeta."""
    if not macros:
        return query
    by_name: dict[str, list] = {}
    for m in macros:
        by_name.setdefault(m.macro_name.lower(), []).append(m)
        # schema-qualified call sites (sql/macros/
        # test_schema_dependency.test: CREATE MACRO test.simple ...)
        by_name.setdefault(
            f"{m.schema_name}.{m.macro_name}".lower(), []).append(m)
    names = set(by_name)
    for _ in range(_MAX_DEPTH):
        hit = _find_call(query, names)
        if hit is None:
            return query
        start, end, word, args = hit
        impls = by_name[word.lower()]
        table_ctx = _is_table_context(query, start)
        want = "table" if table_ctx else "scalar"
        fitting = [m for m in impls
                   if sum(1 for _, d in m.params if d is None)
                   <= len(args) <= len(m.params)]
        chosen = ([m for m in fitting if m.macro_type == want]
                  or fitting)
        if not chosen:
            raise InvalidConfig(
                f"macro {word}: no definition takes {len(args)} argument(s)")
        impl = chosen[0]
        body = _bind(impl.body, impl.params, args, word)
        # scalar and table macros both splice as a parenthesized body:
        # an expression subterm or an inline subquery respectively
        # (Spark accepts unaliased FROM-subqueries)
        query = query[:start] + f"({body})" + query[end:]
    raise InvalidConfig(
        "macro expansion exceeded depth "
        f"{_MAX_DEPTH} (recursive macro?)")
