"""D4 regex-kill pass (reference pfb_dnsbl_prune.py:36-57,187-190, opt-in
--prune-regex): every strength-2 row's col-1 is a regex; after dedup, any
*survivor* whose domain matches any regex is dropped. Regex rows themselves
are always kept, and an empty or null domain is never killed.

The reference dialect is Python ``re``. Most blocklist regexes use only
constructs that mean the same in Java, so ``_java_regex`` translates those
from Python's own parse tree, and all of them run as ONE JVM ``rlike``
alternation: no Python worker, no Arrow round trip. A pattern using
anything outside that closed set (backrefs, ``\\d``/``\\w``/``\\s``/``\\b``,
inline flags, lookarounds, ...) keeps Python's exact semantics through an
Arrow UDF that sees only the untranslated patterns.
"""

from __future__ import annotations

import re
import re._constants as C
import re._parser as P

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

# Java parses repetition bounds as ints; Python allows up to 2**32 - 2
_MAX_COUNT = 2**31 - 1
_AT = {C.AT_BEGINNING: "^", C.AT_END: "$",
       C.AT_BEGINNING_STRING: r"\A", C.AT_END_STRING: r"\z"}


class _Untranslated(Exception):
    """A construct outside the translated set."""


def _char(c: int) -> str:
    """One code point as Java regex syntax, valid inside and outside a class."""
    if 0xD800 <= c <= 0xDFFF:
        raise _Untranslated
    ch = chr(c)
    return ch if ch.isascii() and ch.isalnum() else f"\\x{{{c:x}}}"


def _class_item(op, av) -> str:
    if op is C.NEGATE:
        return "^"   # the parser emits it first
    if op is C.LITERAL:
        return _char(av)
    if op is C.RANGE:
        return f"{_char(av[0])}-{_char(av[1])}"
    raise _Untranslated


def _count(n: int) -> str:
    if n > _MAX_COUNT:
        raise _Untranslated
    return str(n)


def _node(op, av) -> str:
    if op is C.LITERAL:
        return _char(av)
    if op is C.NOT_LITERAL:
        return f"[^{_char(av)}]"
    if op is C.ANY:
        return "."
    if op is C.AT and av in _AT:
        return _AT[av]
    if op is C.IN:
        return "[" + "".join(_class_item(o, a) for o, a in av) + "]"
    if op in (C.MAX_REPEAT, C.MIN_REPEAT):
        lo, hi, sub = av
        hi_s = "" if hi is C.MAXREPEAT else _count(hi)
        lazy = "?" if op is C.MIN_REPEAT else ""
        return f"(?:{_seq(sub)}){{{_count(lo)},{hi_s}}}{lazy}"
    if op is C.SUBPATTERN and not av[1] and not av[2]:
        return f"(?:{_seq(av[3])})"
    if op is C.BRANCH:
        return "(?:" + "|".join(_seq(alt) for alt in av[1]) + ")"
    raise _Untranslated


def _seq(nodes) -> str:
    return "".join(_node(op, av) for op, av in nodes)


def _java_regex(p: str) -> str | None:
    """``p`` in Java syntax with Python ``re.search`` semantics, or None
    when it uses a construct outside the translated set.

    Walks ``re._parser.parse(p)``: literals (each non-alphanumeric one as
    ``\\x{..}``), ``.``, ``^``/``$``, ``\\A``/``\\Z`` (Java ``\\z``),
    classes of literals and ranges, greedy and lazy repeats, flagless
    groups (emitted non-capturing) and alternation. The caller wraps the
    result in ``(?d)`` (UNIX_LINES), under which Java's ``.``, ``^`` and
    ``$`` treat only ``\\n`` as a line end, as Python's do."""
    try:
        tree = P.parse(p)
        if tree.state.flags & ~C.SRE_FLAG_UNICODE:
            raise _Untranslated
        return _seq(tree)
    except (re.error, _Untranslated):
        return None


def _java_alternation(java: list[str]) -> str:
    """One Java pattern matching where any translated pattern matches."""
    return "(?d)" + "|".join(f"(?:{j})" for j in java)


def killed(patterns: list[str]) -> Column:
    """True where a non-empty ``domain`` matches any pattern (null-safe)."""
    java = {p: _java_regex(p) for p in patterns if p}
    translated = [j for j in java.values() if j is not None]
    fallback = [p for p, j in java.items() if j is None]

    domain = F.col("domain")
    hit = F.lit(False)
    if translated:
        hit = hit | domain.rlike(_java_alternation(translated))
    if fallback:
        @F.pandas_udf(BooleanType())
        def _matches_any(domains: pd.Series) -> pd.Series:
            regs = [re.compile(p) for p in fallback]
            return domains.map(
                lambda d: bool(d) and any(r.search(d) for r in regs)
            ).astype(bool)

        hit = hit | _matches_any(domain)
    return F.coalesce((domain != "") & hit, F.lit(False))


def regex_kill(survivors: DataFrame, patterns: list[str]) -> DataFrame:
    """Drop non-regex survivors whose domain matches any pattern."""
    if not any(patterns):
        return survivors
    return survivors.filter((F.col("match_strength") == 2) | ~killed(patterns))


def collect_patterns(df: DataFrame) -> list[str]:
    """Global regex list = col-1 of every strength-2 row across all files
    (reference collects them across read_csv calls, pfb_dnsbl_prune.py:230)."""
    return [
        r.domain
        for r in df.filter(
            (F.col("valid") == "ok") & (F.col("match_strength") == 2)
        ).select("domain").collect()
    ]
