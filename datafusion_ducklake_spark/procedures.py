"""``CALL ducklake_<fn>(…)``: one argument grammar and one table of
procedures over the session's maintenance methods.

Arguments are positional, then ``name => value`` in any order; names
are case-insensitive. Every value is one literal: a quoted string
(``''`` is one quote), NULL, TRUE/FALSE, a signed integer or decimal, a
``[…]`` list of literals, ``NOW()`` or ``TIMESTAMP '…'``. Whatever the
grammar or a procedure's row does not allow is an ``InvalidConfig``
naming the procedure and the argument."""

from __future__ import annotations

import re
from typing import NamedTuple

from .errors import InvalidConfig
from .operators.info_schema import local_df
from .operators.macros import split_top_level

CALL_HEAD_RE = re.compile(
    r"^\s*CALL\s+ducklake_(\w+)\s*\((.*)\)\s*;?\s*$", re.I | re.S)


def _unquote(text: str):
    """The value of ``text`` if it is exactly one quoted string."""
    inner = text[1:-1]
    if len(text) < 2 or text[0] != "'" or text[-1] != "'" \
            or "'" in inner.replace("''", ""):
        return None
    return inner.replace("''", "'")


def _literal(text: str):
    """``(kind, value)`` of the one literal ``text`` is, else None; a
    list's value is its elements' pairs."""
    up = text.upper()
    if (s := _unquote(text)) is not None:
        return "str", s
    if up in ("NULL", "TRUE", "FALSE"):
        return ("null", None) if up == "NULL" else ("bool", up == "TRUE")
    if up.startswith("NOW") and "".join(up[3:].split()) == "()":
        return "now", "now"
    if up.startswith("TIMESTAMP") and \
            (s := _unquote(text[len("TIMESTAMP"):].strip())) is not None:
        return "timestamp", s
    if text.startswith("[") and text.endswith("]"):
        items = [_literal(x) for x in split_top_level(text[1:-1])]
        return None if None in items else ("list", items)
    digits = text[1:] if text[:1] in "+-" else text
    whole, dot, frac = digits.partition(".")
    if whole.isdecimal() and (frac.isdecimal() or not dot):
        return ("decimal", float(text)) if dot else ("int", int(text))
    return None


# parameter type: (literal kinds it takes, list element kind, its name)
_TYPES = {
    "str": ("str", None, "string"),
    "str?": ("str null", None, "string or NULL"),
    "bool": ("bool", None, "boolean"),
    "int": ("int", None, "integer"),
    "number": ("int decimal", None, "number"),
    "ints": ("list", "int", "list of integers"),
    "strs": ("str list", "str", "string or list of strings"),
    "time": ("now timestamp str", None, "timestamp"),
    "option": ("str null bool int decimal", None, "literal"),
}


def _value(proc: str, arg: str, ptype: str, text: str):
    text = text.strip()
    lit = _literal(text)
    kinds, elem, noun = _TYPES[ptype]
    if lit is not None and lit[0] == "null" and "null" not in kinds:
        raise InvalidConfig(f"{proc}: {arg} must be a non-null {noun}")
    if lit is None or lit[0] not in kinds.split() or (
            lit[0] == "list" and any(k != elem for k, _ in lit[1])):
        raise InvalidConfig(f"{proc}: {arg} must be of type {noun}, not "
                            f"{text}")
    kind, value = lit
    if kind == "list":
        return [v for _, v in value]
    if ptype == "option" and kind not in ("str", "null"):
        return text              # an option stores a bare literal as typed
    if ptype == "strs":
        return [value]
    return float(value) if ptype == "number" else value


class Procedure(NamedTuple):
    method: str                  # the DuckLakeSession method it calls
    positional: tuple = ()       # ((parameter, type), ...) in call order
    required: int = 0            # how many positionals must be given
    named: dict = {}             # parameter -> type, as ``name => value``
    result: str = "count"        # the frame: count | len | mode
    alias: bool = False          # takes and ignores a leading catalog alias
    variadic: bool = False       # the last positional repeats


_SWEEP = {"dry_run": "bool", "cleanup_all": "bool"}
_TABLE_KEY = (("name", "str"), ("key", "str"))

PROCEDURES = {
    "add_data_files": Procedure(
        "add_files", (("name", "str"), ("parquet_paths", "strs")), 2,
        {"allow_missing": "bool", "hive_partitioning": "bool",
         "ignore_extra_columns": "bool"}, variadic=True),
    "cleanup_old_files": Procedure(
        "cleanup_old_files", named=_SWEEP, result="len", alias=True),
    "cluster_by": Procedure(
        "cluster_by", (("name", "str"), ("key", "str"), ("buckets", "int")),
        3, {"sort": "bool", "replica": "bool"}),
    "delete_orphaned_files": Procedure(
        "delete_orphaned_files", named=_SWEEP, result="len"),
    "drop_clustering_replica": Procedure(
        "drop_clustering_replica", _TABLE_KEY, 1),
    "expire_snapshots": Procedure(
        "expire_snapshots", (("before", "int"),), 0,
        {"versions": "ints", "dry_run": "bool", "older_than": "time"}),
    "flush_inlined_data": Procedure(
        "flush_inlined_data", (("name", "str"),)),
    "merge_adjacent_files": Procedure(
        "merge_adjacent_files", (("table_name", "str"),), 0,
        {"max_compacted_files": "int"}),
    "refresh_materialized_view": Procedure(
        "refresh_materialized_view", (("name", "str"),), 1, result="mode"),
    "refresh_replica": Procedure("refresh_replica", _TABLE_KEY, 1),
    "rewrite_data_files": Procedure(
        "rewrite_data_files", (("name", "str"),), 0,
        {"delete_threshold": "number"}, alias=True),
    "set_commit_message": Procedure(
        "set_commit_message",
        (("author", "str?"), ("commit_message", "str?")), 2),
    "set_option": Procedure(
        "set_option", (("key", "str"), ("value", "option")), 2,
        {"table_name": "str", "schema": "str"}),
}


def _arguments(proc: str, spec: Procedure, args: str) -> dict:
    """The keyword arguments ``args`` gives ``spec.method``."""
    positional, named = [], {}
    for part in split_top_level(args):
        key, arrow, text = part.partition("=>")
        arg = key.strip().lower()
        if not (arrow and arg.isidentifier()):
            if named:
                raise InvalidConfig(
                    f"{proc}: positional argument {part} after a named one")
            positional.append(part)
        elif arg not in spec.named:
            raise InvalidConfig(f"{proc}: unknown argument {arg}")
        elif arg in named:
            raise InvalidConfig(f"{proc}: argument {arg} given twice")
        else:
            named[arg] = _value(proc, arg, spec.named[arg], text)
    params = spec.positional
    if spec.alias and len(positional) > len(params):
        _value(proc, "alias", "str", positional.pop(0))
    if len(positional) < spec.required:
        raise InvalidConfig(
            f"{proc}: missing argument {params[len(positional)][0]}")
    if len(positional) > len(params) and not spec.variadic:
        raise InvalidConfig(
            f"{proc}: unexpected argument {positional[len(params)]}")
    kwargs = {}
    for i, text in enumerate(positional):
        arg, ptype = params[min(i, len(params) - 1)]
        value = _value(proc, arg, ptype, text)
        kwargs[arg] = kwargs[arg] + value if arg in kwargs else value
    return {**kwargs, **named}


def call_procedure(session, fn: str, args: str):
    """Run ``CALL ducklake_<fn>(<args>)`` on ``session``; returns the
    statement's frame."""
    proc = f"ducklake_{fn.lower()}"
    spec = PROCEDURES.get(fn.lower())
    if spec is None:
        raise InvalidConfig(f"unknown procedure {proc}")
    kwargs = _arguments(proc, spec, args)
    if spec.method == "rewrite_data_files":
        # explicit argument > rewrite_delete_threshold option > 0.95
        kwargs["delete_threshold"] = session._rewrite_threshold(
            kwargs.get("delete_threshold"))
    out = getattr(session, spec.method)(**kwargs)
    if spec.result == "mode":
        return local_df(session.spark, [(out["mode"], out["snapshot"])],
                        "mode STRING, snapshot BIGINT")
    return session._count_df(len(out) if spec.result == "len" else out or 0)
