"""The spark-submit --py-files archive must be importable on its own — a
fresh interpreter with ONLY the zip on sys.path must import the package and
its heaviest modules (what an executor python worker does on a real cluster,
BASELINE.json: 'runs via spark-submit --py-files')."""

from __future__ import annotations

import subprocess
import sys

from dedup_domains_spark.submit import make_pyfiles_zip


def test_zip_imports_standalone(tmp_path):
    zpath = make_pyfiles_zip(str(tmp_path / "pkg.zip"))
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "sys.path[:] = [p for p in sys.path if p not in ('', '.', '/root/repo')]; "
        "import dedup_domains_spark, "
        "dedup_domains_spark.functions.signatures, "
        "dedup_domains_spark.operators.containment, "
        "dedup_domains_spark.plans.pipeline, "
        "dedup_domains_spark.streaming.dedup_stream; "
        "import pyarrow as pa; "
        "from dedup_domains_spark.functions.tokenize_np import batch_shingle_segments_arrow; "
        "sh, off, cnt, nt = batch_shingle_segments_arrow(pa.array(['a b c d e f g h']), 7); "
        "assert cnt[0] == 2, cnt; print('ZIPOK')"
    )
    r = subprocess.run(
        [sys.executable, "-c", probe, zpath],
        capture_output=True, text=True, timeout=120, cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr
    assert "ZIPOK" in r.stdout


def test_load_code_corpus_formats(spark, tmp_path):
    """S1 breadth: the same corpus loads from parquet, JSON-lines, and CSV
    with an identical schema and content round-trip."""
    import pandas as pd

    from dedup_domains_spark.sources.code_corpus import load_code_corpus

    pdf = pd.DataFrame({
        "repo": ["r1", "r2"], "path": ["a.py", "b,c.py"],
        "commit": ["c1", "c2"], "lang": ["py", "py"],
        "content": ["def f():\n    return 1\n", 'x = "q,\\"uote"\n'],
    })
    pq = str(tmp_path / "c.parquet"); pdf.to_parquet(pq)
    js = str(tmp_path / "c.jsonl")
    pdf.to_json(js, orient="records", lines=True)
    cs = str(tmp_path / "c.csv"); pdf.to_csv(cs, index=False)

    base = sorted(map(tuple, load_code_corpus(spark, pq).collect()))
    for p in (js, cs):
        got = sorted(map(tuple, load_code_corpus(spark, p).collect()))
        assert got == base, p
