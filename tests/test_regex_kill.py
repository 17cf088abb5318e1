"""D4 regex-kill parity (reference pfb_dnsbl_prune.py --prune-regex mode,
goldens tests/001_bench_regex_*): every strength-2 row's col-1 compiles to a
regex; post-dedup survivors matching ANY regex are dropped; regex rows are
kept. Fresh goldens are generated by running the reference tool itself over
the 10 present corpus files (the committed goldens depend on 3 inputs absent
from the snapshot).

Dialect parity: patterns ``_java_regex`` translates run as one JVM
``rlike``; the kill they decide must equal Python ``re.search`` (the
reference dialect) on ASCII, non-ASCII, empty and null domains, and every
refused construct must fall back to Python with the same result."""

from __future__ import annotations

import glob
import os
import re
import shutil
import subprocess
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dedup_domains_spark.operators.domain_mode import dedup_dnsbl, write_survivor_files
from dedup_domains_spark.operators.regex_kill import (
    _java_alternation, _java_regex, collect_patterns, killed, regex_kill,
)
from dedup_domains_spark.sources.dnsbl import load_dnsbl_files

REF_INPUTS = "/root/reference/tests/001_inputs"
REF_TOOL = "/root/reference/pfb_dnsbl_prune.py"


@pytest.fixture(scope="module")
def fresh_regex_goldens(tmp_path_factory):
    d = tmp_path_factory.mktemp("regex_goldens")
    for f in glob.glob(os.path.join(REF_INPUTS, "*.fat")):
        shutil.copy(f, d)
    subprocess.run(
        [sys.executable, REF_TOOL, str(d), ".fat", ".pruned",
         "--method", "pointer", "--prune-regex"],
        check=True, capture_output=True, timeout=600,
    )
    return d


@pytest.mark.skipif(
    not os.path.isdir(REF_INPUTS),
    reason="the reference tree (its corpus and pfb_dnsbl_prune.py) is "
           "not present",
)
def test_regex_kill_matches_reference(spark, fresh_regex_goldens):
    d = str(fresh_regex_goldens)
    paths = sorted(glob.glob(os.path.join(d, "*.fat")))
    df = load_dnsbl_files(spark, paths)
    res = dedup_dnsbl(df)
    patterns = collect_patterns(df)
    assert patterns, "corpus should contain strength-2 regex rows"
    killed = regex_kill(res.survivors, patterns)

    out: dict[str, list[str]] = {}
    for r in killed.select("source_file", "raw_line").collect():
        out.setdefault(r.source_file, []).append(r.raw_line)

    for p in paths:
        golden_path = p.replace(".fat", ".pruned")
        with open(golden_path, "rb") as f:
            gold = sorted(l.decode() for l in f.read().split(b"\n") if l)
        mine = sorted(out.get(p, []))
        assert mine == gold, (
            f"{os.path.basename(p)}: {len(mine)} vs {len(gold)} lines; "
            f"mine-only={list(set(mine)-set(gold))[:3]} "
            f"gold-only={list(set(gold)-set(mine))[:3]}"
        )


# ---- dialect parity --------------------------------------------------------

DOMAINS = [
    None, "", "ads.example.com", "adk3x17.n5.com", "adk3x.n5.com", "a.b",
    "ab", "aab", "xyz.org", "café.fr", "é", "ü.example", "日本.jp",
    "\U0001f600.io", "a\nb", "a\rb", "a\u2028b", "a\u0085b", "ab\n", "ab\r",
    "ab\r\n", "\nab", "a-b_c.d",
]

# each translates; '.', '^' and '$' against CR, NEL and LS pin UNIX_LINES
TRANSLATED = [
    r"^adk[0-9]+x[0-9]+\.", r"^adk3x[0-9]+\.", r"\.com$", r"^ab$", "a.b",
    r"a\.b", "^a", "b$", r"\Aab\Z", "[^a-z.]", "[^.]+", "ca(f|g)é", "é",
    r"[é-ü]\.", "日本", "\U0001f600", "a|x", "(?:ab)+", "a{2}", "a{1,2}?b",
    "a*?b", "x?y", "^$", "a.", ".b$", "ab.", "[a-c-]", r"[\]\[]", "ü\\.",
]

# refused: backref, inline flag, \d, \b, lookbehind
REFUSED = [r"(a)\1", "(?i)AB", r"\d", r"\bab", "(?<=a)b"]


def _expected(domains, patterns):
    """Kept positions under the reference rule: a non-empty domain that
    any pattern matches (re.search) is killed."""
    regs = [re.compile(p) for p in patterns]
    return [i for i, d in enumerate(domains)
            if not (d and any(r.search(d) for r in regs))]


def _kept(spark, domains, pattern_sets):
    """Kept positions of ``domains`` under each pattern set's kill
    expression — one Spark job for all sets."""
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(domains)], "i int, domain string"
    ).coalesce(1)
    rows = df.select(
        "i", *[killed(p).alias(f"k{n}") for n, p in enumerate(pattern_sets)]
    ).collect()
    return [[r.i for r in rows if not r[f"k{n}"]] for n in range(len(pattern_sets))]


def test_translated_patterns_match_python(spark):
    assert all(_java_regex(p) is not None for p in TRANSLATED)
    got = _kept(spark, DOMAINS, [[p] for p in TRANSLATED] + [TRANSLATED])
    want = [_expected(DOMAINS, [p]) for p in TRANSLATED] + [
        _expected(DOMAINS, TRANSLATED)]
    for p, g, w in zip(TRANSLATED + ["<all>"], got, want):
        assert g == w, f"{p!r}: kept {g}, Python keeps {w}"


def test_refused_constructs_fall_back_to_python(spark):
    assert all(_java_regex(p) is None for p in REFUSED)
    domains = DOMAINS + ["aa", "AB", "x1", "ba b", "cab"]
    sets = [[p] for p in REFUSED] + [REFUSED + [r"\.org$"]]
    got = _kept(spark, domains, sets)
    assert got == [_expected(domains, s) for s in sets]


def test_regex_rows_and_empty_domains_survive(spark):
    df = spark.createDataFrame(
        [(1, "ad.com", 2), (2, "", 0), (3, None, 0), (4, "ad.com", 0)],
        "i int, domain string, match_strength int",
    )
    for pats in (["^ad"], [r"^ad|\d"], [""], ["^ad", ".*", r"(?i).*"]):
        kept = sorted(r.i for r in regex_kill(df, pats).collect())
        assert kept == ([1, 2, 3, 4] if pats == [""] else [1, 2, 3]), pats


_LEAF = st.sampled_from([
    "a", "b", "x", "é", "日", r"\.", "-", ".", "^", "$", r"\A", r"\Z",
    "[a-c]", "[^a.]", "[é-ü]", "[.x-]", "\n",
])


def _compound(inner):
    return st.one_of(
        st.tuples(inner, inner).map("".join),
        st.tuples(inner, inner).map(lambda t: f"(?:{t[0]}|{t[1]})"),
        inner.map(lambda s: f"({s})"),
        st.tuples(inner, st.sampled_from(["*", "+", "?", "{2}", "{1,3}", "{0,}"]),
                  st.sampled_from(["", "?"])).map(lambda t: f"(?:{t[0]}){t[1]}{t[2]}"),
    )


_PATTERNS = st.recursive(_LEAF, _compound, max_leaves=6)
# short domains, rich in the line ends the two dialects could disagree on
_DOMAIN = st.one_of(
    st.none(),
    st.text(alphabet="abx.é日-\n\r\u2028\u0085\U0001f600", max_size=6),
)


@settings(max_examples=40, deadline=None)
@given(patterns=st.lists(_PATTERNS, min_size=1, max_size=8),
       domains=st.lists(_DOMAIN, min_size=1, max_size=16))
def test_translation_property(spark, patterns, domains):
    """For any pattern built from the translated constructs, the JVM kill
    equals Python's on arbitrary domains (CR, NEL and LS included)."""
    java = [_java_regex(p) for p in patterns]
    assert None not in java, patterns
    rows = [(p, _java_alternation([j]), d) for p, j in zip(patterns, java)
            for d in domains]
    df = spark.createDataFrame(rows, "p string, j string, domain string")
    got = [r.hit for r in df.select(
        F.regexp_like("domain", F.col("j")).alias("hit")).collect()]
    want = [None if d is None else re.search(p, d) is not None
            for p, _, d in rows]
    assert got == want, patterns
