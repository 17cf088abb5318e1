"""pfBlockerNG CSV source — reference-parity ingest, fully distributed.

Parses the reference's 7-column CSV feeds (shape documented at reference
tests/001_inputs/e_adaway.fat, columns decoded at src/pfb_prune.c:132-164 and
pfb_dnsbl_prune.py:208-230) into the dnsbl_lines DataFrame schema.

Validity rule = the strict Python rule (SURVEY.md §1.2): column count must be
6 or 7; a 6-column row defaults to strength 0 (WEAK); col 6 must parse as an
int in {0,1,2}; rows violating either are counted as *ignored*. Line framing:
\\r\\n, a lone \\r and \\n each end a line, a leading UTF-8 BOM is dropped,
a final unterminated line still counts, and over-long lines are cut at
max_line_bytes BYTES (reference rw_pfb_csv.c:28-32,147-154,390-403). Labels
over 255 bytes fail the row (reference src/domain.c:276-287).

Scale shape: each feed is read whole (``spark.read.text(wholetext=True)``)
and split into lines in the task that read it, so a line number is the
element's position in its file — numbered as the reference numbers them
while it streams a feed, with no shuffle and no window. The file's CLI
position and caller path come from literal map/array lookups on
``input_file_name()``; the driver never opens a feed file. The trade-off:
a feed is read by ONE task and must fit one string (under 2 GB); feeds are
the parallel unit. All column parsing is Catalyst (split/element_at/rlike)
— no per-row Python.
"""

from __future__ import annotations

from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DNSBL_SCHEMA = StructType([
    StructField("source_file", StringType(), False),
    StructField("file_order", IntegerType(), False),
    StructField("linenumber", LongType(), False),
    StructField("domain", StringType(), True),
    StructField("listname", StringType(), True),
    StructField("groupname", StringType(), True),
    StructField("match_strength", IntegerType(), True),
    StructField("raw_line", StringType(), False),
    StructField("valid", StringType(), False),  # 'ok' | ignore reason
])

MAX_LINE_BYTES = 2048  # reference rw_pfb_csv.c:28-32 truncation cap


def parse_dnsbl_line(line: str, lenient: bool = False) -> tuple:
    """(domain, listname, groupname, strength, validity) for one CSV line.

    Driver-side twin of the Catalyst expressions in load_dnsbl_files — kept
    for unit tests and as executable documentation of the validity rule.
    ``lenient=True`` applies the C binary's schema rules instead of the
    strict Python-tool rules (see load_dnsbl_files)."""
    cols = line.split(",")
    if lenient:
        if len(cols) < 2:
            return None, None, None, None, "bad_column_count"
        domain = cols[1]
        listname = cols[4] if len(cols) > 4 else None
        groupname = cols[5] if len(cols) > 5 else None
        if len(cols) >= 7:
            c7 = cols[6]
            if len(c7) != 1 or c7 not in "012":
                return domain, listname, groupname, None, "bogus_strength"
            strength = int(c7)
        else:
            strength = 0
        if not domain:
            return domain, listname, groupname, strength, "bad_domain"
        if any(len(lbl.encode()) > 255 for lbl in domain.split(".")):
            return domain, listname, groupname, strength, "label_too_long"
        return domain, listname, groupname, strength, "ok"
    if len(cols) not in (6, 7):
        return None, None, None, None, "bad_column_count"
    domain = cols[1]
    listname = cols[4] if len(cols) > 4 else None
    groupname = cols[5] if len(cols) > 5 else None
    if len(cols) == 7:
        import re

        s = cols[6].strip()
        if not re.fullmatch(r"-?[0-9]+", s):
            return domain, listname, groupname, None, "bad_strength"
        strength = int(s)
        if strength < 0 or strength > 2:
            return domain, listname, groupname, None, "bad_strength"
    else:
        strength = 0
    # per-label hard limit: a label >255 bytes fails the row
    # (reference src/domain.c:276-287)
    if domain and any(len(lbl.encode()) > 255 for lbl in domain.split(".")):
        return domain, listname, groupname, strength, "label_too_long"
    return domain, listname, groupname, strength, "ok"


def _cut_bytes(raw):
    """The longest prefix of ``raw`` of at most MAX_LINE_BYTES UTF-8 bytes
    (reference rw_pfb_csv.c:28-32 caps a line in bytes): a character cut by
    the limit is dropped whole, never left as a partial byte sequence.
    ``n`` counts the characters that START within the first MAX_LINE_BYTES
    bytes (a binary-to-string cast does not validate, so a cut trailing
    sequence still counts as one); only the last of them can straddle."""
    n = F.length(F.substring(F.encode(raw, "UTF-8"), 1, MAX_LINE_BYTES).cast("string"))
    head = F.substring(raw, F.lit(1), n)
    return F.when(F.octet_length(head) > MAX_LINE_BYTES,
                  F.substring(raw, F.lit(1), n - 1)).otherwise(head)


def load_dnsbl_files(
    spark: SparkSession, paths: list[str], lenient: bool = False
) -> DataFrame:
    """Read N CSV feed files (in CLI order — order defines the first-wins
    tie-break, reference src/main.c:110-134) into one dnsbl_lines DataFrame.

    Distributed end to end: executors read each feed whole and number its
    lines in the same task, and parsing/validity are pure Catalyst.

    ``lenient=True`` switches the validity rule from the strict Python-tool
    schema (default; SURVEY.md §1.2) to the C binary's
    (reference src/pfb_prune.c:132-164 + domaintree.c:355-369):
      * fewer than 7 columns → accepted at strength WEAK (the strict rule
        requires exactly 6 or 7 columns);
      * a 7th column longer than one character → MATCH_BOGUS, row skipped;
      * one-column lines and empty domains → skipped (the C path fails
        update_DomainView and skips the insert);
      * a single-character 7th column outside '0'..'2' is also treated as
        bogus here — the C binary would insert it with the raw
        ``char - '0'`` arithmetic value; no reference fixture contains one.
    """
    # map the scan's file URI back to the caller's path + CLI position (a
    # path given twice keeps its first position)
    uris = [Path(p).absolute().as_uri() for p in paths]
    first = {u: order for order, u in reversed(list(enumerate(uris)))}
    uri_order = F.create_map(*[F.lit(x) for u, o in first.items() for x in (u, o)])
    file_order = uri_order[F.input_file_name()]
    files = spark.read.text(uris, wholetext=True).select(
        file_order.alias("file_order"),
        F.array(*[F.lit(p) for p in paths])[file_order].alias("source_file"),
        F.posexplode(F.split("value", r"\r\n|\r|\n", -1)).alias("_pos", "_line"),
    )

    # framing: a leading UTF-8 BOM is dropped, over-long lines are cut at
    # max_line_bytes, and blank frames are dropped AFTER numbering (blank
    # lines advance the line counter in the reference, rw_pfb_csv.c:237-416,
    # but emit no row)
    raw = F.when(F.col("_pos") == 0, F.regexp_replace("_line", "^\ufeff", "")
                 ).otherwise(F.col("_line"))
    lines = files.select(
        "file_order", "source_file",
        (F.col("_pos") + 1).cast("long").alias("linenumber"),
        F.when(F.octet_length(raw) > MAX_LINE_BYTES, _cut_bytes(raw))
        .otherwise(raw).alias("raw_line"),
    ).filter(F.col("raw_line") != "")

    cols = F.split(F.col("raw_line"), ",", -1)
    n = F.size(cols)
    domain = F.element_at(cols, 2)
    label_too_long = F.exists(
        F.split(domain, r"\."), lambda lbl: F.octet_length(lbl) > 255
    )

    if lenient:
        col7 = F.element_at(cols, 7)
        c7_ok = (F.length(col7) == 1) & col7.isin("0", "1", "2")
        parsed = lines.select(
            "source_file",
            "file_order",
            "linenumber",
            "raw_line",
            F.when(n >= 2, domain).alias("domain"),
            F.when(n >= 5, F.element_at(cols, 5)).alias("listname"),
            F.when(n >= 6, F.element_at(cols, 6)).alias("groupname"),
            F.when((n >= 2) & (n < 7), F.lit(0))
            .when(c7_ok, col7.cast("int"))
            .alias("match_strength"),
            F.when(n < 2, F.lit("bad_column_count"))
            .when((n >= 7) & ~c7_ok, F.lit("bogus_strength"))
            .when(domain == "", F.lit("bad_domain"))
            .when(label_too_long, F.lit("label_too_long"))
            .otherwise(F.lit("ok"))
            .alias("valid"),
        )
        return parsed.select(*[f.name for f in DNSBL_SCHEMA.fields])

    strength_str = F.trim(F.element_at(cols, 7))
    strength_ok = strength_str.rlike(r"^-?[0-9]+$")
    strength_val = F.when(strength_ok, strength_str.cast("int"))

    parsed = lines.select(
        "source_file",
        "file_order",
        "linenumber",
        "raw_line",
        F.when(n.isin(6, 7), domain).alias("domain"),
        F.when(n.isin(6, 7), F.element_at(cols, 5)).alias("listname"),
        F.when(n.isin(6, 7), F.element_at(cols, 6)).alias("groupname"),
        F.when(~n.isin(6, 7), F.lit(None).cast("int"))
        .when(n == 6, F.lit(0))
        .when(
            strength_ok & (strength_val >= 0) & (strength_val <= 2), strength_val
        )
        .alias("match_strength"),
        F.when(~n.isin(6, 7), F.lit("bad_column_count"))
        .when(
            (n == 7)
            & (~strength_ok | (strength_val < 0) | (strength_val > 2)),
            F.lit("bad_strength"),
        )
        .when(label_too_long, F.lit("label_too_long"))
        .otherwise(F.lit("ok"))
        .alias("valid"),
    )
    return parsed.select(*[f.name for f in DNSBL_SCHEMA.fields])


def dnsbl_df_from_pandas(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """Wrap a datagen.gen_dnsbl_lines frame (already validated) as a DataFrame."""
    pdf = pdf.copy()
    pdf["valid"] = "ok"
    pdf["file_order"] = pdf["file_order"].astype("int32")
    pdf["match_strength"] = pdf["match_strength"].astype("Int32")
    return spark.createDataFrame(pdf, schema=DNSBL_SCHEMA)
