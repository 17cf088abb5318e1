"""Small-size self-check of the benchmark itself (about two minutes):

    python3 perfbench/selfcheck.py

1. generators are deterministic by seed and differ across seeds;
2. the dnsbl oracle reproduces the generator's planted fates, and handles
   the framing and validity edge cases;
3. the oracle matches the engine (load_dnsbl_files → dedup_dnsbl →
   regex_kill → sink) byte for byte on ~2k lines, untraced and traced;
4. the traced code pass gives the same survivors as the untraced one.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as bench  # noqa: E402
from perfbench.telemetry import stop_descendants  # noqa: E402


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"selfcheck FAILED: {what}")
    print(f"ok  {what}")


def check_generators() -> None:
    from perfbench import workloads as w

    a, b, c = (w.gen_dnsbl_prune(3000, s) for s in (5, 5, 6))
    expect(a == b and a != c, "dnsbl_prune generator is a function of the seed")
    x, y, z = (w.gen_code_mixed(200, s) for s in (5, 5, 6))
    expect(x.files.equals(y.files) and (x.truth == y.truth).all()
           and not x.files.equals(z.files),
           "gen_code_mixed is a function of the seed")


def check_oracle() -> None:
    from perfbench import workloads as w
    from perfbench.oracle import dnsbl_oracle

    feeds, planted = w.gen_dnsbl_prune(20_000, 7)
    raw = ["".join(ln + "\n" for ln in lines).encode() for _, lines in feeds]
    _, fates = dnsbl_oracle(raw)
    expect([[f for _, f in ff] for ff in fates] == planted,
           "oracle fates equal the planted fates (20k lines)")

    edge = (b",a.x.com,,0,l,g,0\r\n"          # CRLF framing
            b"\n"                             # blank line: no row
            b",x.com,,0,l,g\n"                # 6 columns: WEAK
            b",b.x.com,,0,l,g,1\n"            # FULL below x.com (WEAK): kept
            b",c.b.x.com,,0,l,g,0\n"          # below FULL b.x.com: subsumed
            b",x.com,,0,l,g,1\n"              # upgrade: wipes a.x.com, b.x.com
            + b",y." + b"z" * 256 + b".com,,0,l,g,0\n"   # label > 255 bytes
            + b",q.com,,0,l,g,-1\n"           # bad strength
            b",q.com,,0,l,g,0")               # unterminated last line
    out, fates = dnsbl_oracle([edge])
    expect([f for _, f in fates[0]] == ["subsumed", "replaced", "subsumed",
                                        "subsumed", "kept", "ignored", "ignored",
                                        "kept"],
           "oracle edge cases: CRLF, blank, 6 columns, wipe, long label, bad strength")
    expect(out[0] == b",x.com,,0,l,g,1\n,q.com,,0,l,g,0\n", "oracle edge-case output")


def check_engine(work: str) -> None:
    from perfbench.passes import CODE_LAYERS, DNSBL_LAYERS, LayerRecorder
    from perfbench.telemetry import Tracer
    from perfbench.workloads import cached_input

    cache = os.path.join(work, "cache")
    dnsbl = bench.DnsblWorkload(cached_input(cache, "dnsbl_prune", 3, 2000))
    mixed = bench.CodeWorkload(cached_input(cache, "code_mixed", 3, 400))
    spark = bench.start_spark(work)
    try:
        for name, wl, layers in (("dnsbl_prune", dnsbl, DNSBL_LAYERS),
                                 ("code_mixed", mixed, CODE_LAYERS)):
            run = bench.Run(wl, work)
            r1 = run.operation(spark, wl.run_pass)
            rec = LayerRecorder(spark, Tracer("selfcheck"))
            r2 = run.operation(spark, lambda s, out: wl.traced_pass(s, out, rec))
            # each check compares with the oracle (dnsbl) or with the first
            # pass's survivors (code), so a passing traced check means equal
            expect(r1 is not None and r2 is not None and run.failed == 0,
                   f"{name}: untraced and traced passes pass their checks")
            expect(set(rec.layers) == {*layers, "sinks"} and all(
                v["call_s"] >= 0 and v["exec_s"] >= 0 and v["rows_out"] > 0
                for v in rec.layers.values()),
                f"{name}: traced pass recorded every layer: {sorted(rec.layers)}")
    finally:
        bench.stop_spark(spark)


def main() -> int:
    bench._import_engine()
    work = os.path.join(bench.ROOT, ".perfbench_work", f"selfcheck-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    try:
        check_generators()
        check_oracle()
        check_engine(work)
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
