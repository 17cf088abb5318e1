"""Domain mode against the benchmark's sequential oracle.

``perfbench.oracle.dnsbl_oracle`` models the reference's single pass (PAPER.md
§1.1): it frames each feed, inserts rows one by one in CLI file order, then
line order, and writes each file's survivors in C order. These tests need no
reference tree:

* the loader's line framing on crafted feeds (CRLF, lone CR, BOM, blank
  lines, an unterminated last line, an empty feed, a long multibyte line);
* the ``dnsbl --prune-regex`` CLI path over generated multi-feed inputs,
  byte for byte against the oracle's output files.
"""

from __future__ import annotations

import pytest

from perfbench.oracle import _frame, dnsbl_oracle
from perfbench.workloads import gen_dnsbl_prune


def _row(domain: str, strength=0, listname: str = "l") -> str:
    return f",{domain},,0,{listname},G,{strength}"


# 7 columns and 2,225 bytes: the byte cap cuts into the listname
LONG = _row("long.example.com", 0, "é" * 1100)

FEEDS = {
    "crlf.fat": (_row("a.com") + "\r\n" + _row("b.com") + "\r\n").encode(),
    "cr.fat": (_row("c.com") + "\r" + _row("d.com") + "\n" + _row("e.com")).encode(),
    "bom.fat": ("﻿" + _row("f.com") + "\n\n\n" + _row("g.com") + "\n").encode(),
    "empty.fat": b"",
    "blank.fat": b"\n\r\n\r\r\n" + _row("h.com").encode(),
    "long.fat": (LONG + "\n" + _row("i.com") + "\n").encode(),
    "mixed.fat": (_row("j.com") + "\r\r\n" + _row("k.com") + "\n\r"
                  + _row("l.com") + "\r\n\n").encode(),
}

# (feed, linenumber, raw_line): a lone CR ends a line as LF and CRLF do,
# blank frames advance the counter, and a leading BOM is dropped
FRAMED = [
    ("crlf.fat", 1, _row("a.com")), ("crlf.fat", 2, _row("b.com")),
    ("cr.fat", 1, _row("c.com")), ("cr.fat", 2, _row("d.com")),
    ("cr.fat", 3, _row("e.com")),
    ("bom.fat", 1, _row("f.com")), ("bom.fat", 4, _row("g.com")),
    ("blank.fat", 5, _row("h.com")),
    ("long.fat", 1, LONG.encode()[:2048].decode(errors="ignore")),
    ("long.fat", 2, _row("i.com")),
    ("mixed.fat", 1, _row("j.com")), ("mixed.fat", 3, _row("k.com")),
    ("mixed.fat", 5, _row("l.com")),
]


def test_loader_framing(spark, tmp_path):
    from dedup_domains_spark.sources.dnsbl import load_dnsbl_files

    paths = []
    for name, raw in FEEDS.items():
        (tmp_path / name).write_bytes(raw)
        paths.append(str(tmp_path / name))
    rows = (load_dnsbl_files(spark, paths)
            .orderBy("file_order", "linenumber").collect())
    got = [(r.source_file.rsplit("/", 1)[-1], r.linenumber, r.raw_line) for r in rows]
    assert got == FRAMED
    assert [r.file_order for r in rows] == [
        list(FEEDS).index(name) for name, _, _ in FRAMED]

    # the cut line: 2,047 bytes, the partial 'é' dropped, as the oracle cuts
    long_row = next(r for r in rows if r.raw_line.startswith(",long."))
    assert len(long_row.raw_line.encode()) == 2047
    assert _frame(FEEDS["long.fat"])[0] == long_row.raw_line
    # 5 columns remain, so the row is ignored
    assert long_row.valid == "bad_column_count"


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_cli_prune_regex_matches_oracle(tmp_path, seed):
    from dedup_domains_spark.__main__ import main

    feeds, _ = gen_dnsbl_prune(3000, seed)
    paths, raw = [], []
    for name, lines in feeds:
        data = "".join(ln + "\n" for ln in lines).encode()
        (tmp_path / f"{name}.fat").write_bytes(data)
        paths.append(str(tmp_path / f"{name}.fat"))
        raw.append(data)
    out = tmp_path / "out"
    rc = main(["dnsbl", "--inputs", *paths, "--output", str(out),
               "--prune-regex", "--silent"])
    assert rc == 0
    expected, _ = dnsbl_oracle(raw, prune_regex=True)
    for (name, _), want in zip(feeds, expected):
        assert (out / f"{name}.pruned").read_bytes() == want, name
