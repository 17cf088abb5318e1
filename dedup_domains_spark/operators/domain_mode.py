"""Reference-parity domain mode: the dedup semantics of babilon/dedup-domains
re-expressed as declarative DataFrame ops (no trie, no per-row Python).

Rules implemented (SURVEY.md §2.1), with reference citations:
  D1 exact-duplicate collapse — same domain, equal strength → first inserted
     wins (reference src/domaintree.c:259-294, strict '>' at :267).
  D2 parent-domain subsumption — a row whose domain is a strict descendant of
     any FULL-strength key is dropped (src/domaintree.c:330-339).
  D3 strength upgrade + retroactive subtree wipe — stronger row replaces
     weaker at the same key; a FULL insert kills the whole descendant subtree
     (src/domaintree.c:272-275). Order-independent final state.
  F2 type router — strength-2 regex rows bypass dedup and are carried over
     verbatim (src/pfb_prune.c:186-210).
  O1 order-restoring output — per file ascending line numbers, regex rows
     inline (src/pfb_prune.c:639-659).

Spark shape: the trie descent becomes (a) an ancestor-explode semi-join of
the dedupable domains against the FULL keys — read from the input, since
election keeps the max strength and a FULL key is any domain with a
strength-1 row — giving the distinct subsumed domains, and (b) ONE window
election per exact key over the rows whose domain is not subsumed. All pure
Catalyst: whole-stage-codegen'd, shuffle on the domain / ancestor key, no
Python in the hot path. The drop lineage and metrics need the election over
every row, so they are built only when first read. At 100 TB: the ancestor
explode is a bounded fan-out (avg label depth ~4), the FULL-key set is a
fraction of the corpus and AQE picks broadcast vs shuffle join at runtime.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class DomainModeResult:
    """Domain-mode outputs. ``dropped`` and ``metrics`` are diagnostic and
    built on first access (as ``PipelineResult.lineage`` is): a pass that
    only writes survivors never plans the full election window they need."""

    survivors: DataFrame   # full rows, output-ordered (file_order, linenumber)
    _dropped_fn: Callable[[], DataFrame] = None   # rows removed + 'drop_reason'
    _metrics_fn: Callable[[], DataFrame] = None   # stage -> count

    @property
    def dropped(self) -> DataFrame:
        if "_dropped" not in self.__dict__:
            self.__dict__["_dropped"] = self._dropped_fn()
        return self.__dict__["_dropped"]

    @property
    def metrics(self) -> DataFrame:
        if "_metrics" not in self.__dict__:
            self.__dict__["_metrics"] = self._metrics_fn()
        return self.__dict__["_metrics"]


def _ancestor_keys(labels_col):
    """Strict-ancestor domains of a label array: for a.b.x.com →
    [b.x.com, x.com, com]. Pure Catalyst (transform over sequence)."""
    n = F.size(labels_col)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(2), n),
            lambda i: F.array_join(F.slice(labels_col, i, n - i + 1), "."),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _election_window():
    """D1 + D3 (election half): per exact key, max strength first; ties
    broken by insertion order (file CLI order, then line number) — the
    deterministic total order replacing the reference's sequential
    first-wins (SURVEY.md §4 item 4)."""
    return Window.partitionBy("domain").orderBy(
        F.col("match_strength").desc(), F.col("file_order").asc(),
        F.col("linenumber").asc(),
    )


def dedup_dnsbl(df: DataFrame) -> DomainModeResult:
    """Run the full reference dedup over a dnsbl_lines DataFrame
    (schema: sources.dnsbl.DNSBL_SCHEMA).
    """
    df = df.cache()
    valid = df.filter(F.col("valid") == "ok")

    # F2: route regex rows around the dedup entirely.
    regex_rows = valid.filter(F.col("match_strength") == 2)
    dedupable = valid.filter(F.col("match_strength") < 2)

    # D2 + D3 (wipe half): a domain with a strict ancestor among the FULL
    # keys is wiped, whatever its strength or position — the reference's
    # eager drop (domaintree.c:330-339) and retroactive subtree wipe
    # (domaintree.c:272-275) have the same fixpoint. Election keeps the max
    # strength, so the FULL keys are exactly the domains with a strength-1
    # dedupable row: read from the input, not from the election.
    full_keys = dedupable.filter(F.col("match_strength") == 1).select(
        F.col("domain").alias("_anc"))
    subsumed_domains = (
        dedupable.select(
            "domain", F.explode(_ancestor_keys(F.split("domain", r"\."))).alias("_anc"))
        .join(full_keys, "_anc", "leftsemi")
        .select("domain").distinct()
    )

    # ONE election window, over the rows whose domain survives the wipe.
    ranked = (
        dedupable.join(subsumed_domains, "domain", "leftanti")
        .withColumn("_rn", F.row_number().over(_election_window()))
    )
    kept = ranked.filter(F.col("_rn") == 1).drop("_rn")

    # O1/A2: survivors ∪ carried-over regex rows, original order restored
    # (C semantics: regex rows inline at their line positions,
    # pfb_prune.c:639-659 + golden E2ETestRegexInput_2.fulle2e).
    survivors = kept.unionByName(regex_rows).orderBy("file_order", "linenumber")

    def _drops() -> tuple[DataFrame, DataFrame]:
        """(exact_or_weaker_duplicate, subsumed_by_full_parent) rows, from
        a full election over every dedupable row."""
        ranked_all = dedupable.withColumn(
            "_rn", F.row_number().over(_election_window()))
        exact = ranked_all.filter(F.col("_rn") > 1).drop("_rn").withColumn(
            "drop_reason", F.lit("exact_or_weaker_duplicate"))
        subsumed = (
            ranked_all.filter(F.col("_rn") == 1).drop("_rn")
            .join(subsumed_domains, "domain", "leftsemi")
            .select(*dedupable.columns)
            .withColumn("drop_reason", F.lit("subsumed_by_full_parent"))
        )
        return exact, subsumed

    def _dropped() -> DataFrame:
        exact, subsumed = _drops()
        ignored = df.filter(F.col("valid") != "ok").withColumn(
            "drop_reason", F.concat(F.lit("ignored:"), F.col("valid")))
        return exact.unionByName(subsumed).unionByName(ignored)

    def _metrics() -> DataFrame:
        # M1: per-stage metrics (reference counters at
        # pfb_dnsbl_prune.py:233-241): one conditional-sum agg over the
        # input (incl. the reference's 63-byte label warning counter,
        # src/domain.c:28,276-287 — row kept, occurrence counted) + one
        # groupBy over the drop lineage and the kept rows.
        label_warn = F.exists(
            F.split(F.col("domain"), r"\."), lambda lbl: F.octet_length(lbl) > 63
        ).cast("long")
        base = df.agg(
            F.count(F.lit(1)).alias("_input"),
            F.sum((F.col("valid") != "ok").cast("long")).alias("_ignored"),
            F.sum(((F.col("valid") == "ok") & (F.col("match_strength") == 2)).cast("long")).alias("_regex"),
            F.sum(F.coalesce(label_warn, F.lit(0))).alias("_label_warn"),
        ).selectExpr(
            "stack(4, 'input', _input, 'ignored', _ignored, "
            "'regex_carry_over', _regex, 'label_warn', _label_warn) as (stage, count)"
        )
        exact, subsumed = _drops()
        drops = (
            exact.select(F.lit("exact_dropped").alias("stage"))
            .unionByName(subsumed.select(F.lit("subsumed").alias("stage")))
            .unionByName(kept.select(F.lit("kept").alias("stage")))
            .groupBy("stage").count()
        )
        return base.unionByName(drops)

    return DomainModeResult(survivors=survivors, _dropped_fn=_dropped,
                            _metrics_fn=_metrics)


def _seq():
    """Global insertion sequence: files in CLI/sorted order, lines in file
    order — the total order that replaces the reference's sequential
    first-wins (SURVEY.md §4 item 4)."""
    return F.col("file_order").cast("long") * F.lit(1 << 40) + F.col("linenumber")


def _prefix_keys(rev_col, lo, hi):
    """Reversed-label path prefixes [lo..hi] as dotted keys: for
    rev=[com,a,b] and lo=1,hi=3 → [com, com.a, com.a.b] (bounded fan-out,
    avg label depth ~4)."""
    return F.transform(
        F.sequence(lo, hi), lambda i: F.array_join(F.slice(rev_col, 1, i), ".")
    )


def standard_visit_keys(df: DataFrame) -> DataFrame:
    """Per-row DFS pre-order key replicating the reference Python tool's
    tree-visit output order (pfb_dnsbl_prune.py:152-156 visit_leaves: children
    in dict-insertion order, payload before descent; writer at :300-308).

    A node's position among its siblings is its CREATION time — the first
    insertion sequence that touched it while unblocked. A descent is blocked
    at the first prefix that already held an established childless-FULL leaf
    (pfb_dnsbl_prune.py:169-173), so creation times require the temporal
    FULL-establishment table, computed by label-depth induction (a prefix is
    strictly shorter, so depth order is a valid topological order):

      t_full(key) = min seq over FULL rows at key with no strict prefix q
                    where t_full(q) < seq

    Then each row contributes its seq to every prefix at depth ≤ its first
    blocking depth, and ct(node) = min contribution. The visit key of a row
    is the array of ct over its path prefixes — array lexicographic order ==
    DFS pre-order (a parent's key is a strict prefix of its descendants').

    All of it is joins/windows over the (prefix-key, seq) explode — the same
    bounded fan-out shape as the D2 ancestor anti-join; no driver state
    beyond a ≤max-label-depth loop. Returns (file_order, linenumber,
    visit_key array<long>) for every valid dedupable row.
    """
    rows = (
        df.filter((F.col("valid") == "ok") & (F.col("match_strength") < 2))
        .select(
            "file_order", "linenumber", "match_strength",
            _seq().alias("_s"),
            F.reverse(F.split("domain", r"\.")).alias("_rev"),
        )
        .withColumn("_n", F.size("_rev"))
        .cache()
    )

    # --- t_full by depth induction ---
    full_rows = rows.filter(F.col("match_strength") == 1).select(
        "_s", "_rev", "_n", F.array_join("_rev", ".").alias("_key")
    ).cache()
    max_depth_row = full_rows.agg(F.max("_n")).first()[0]
    max_depth = int(max_depth_row or 0)
    spark = df.sparkSession
    tf = spark.createDataFrame([], "_tkey string, _t long")
    for d in range(1, max_depth + 1):
        cand = full_rows.filter(F.col("_n") == d)
        if d > 1:
            cand_pref = cand.select(
                "_s", "_key",
                F.explode(_prefix_keys(F.col("_rev"), F.lit(1), F.lit(d - 1))).alias("_tkey"),
            )
            blocked = (
                cand_pref.join(tf, "_tkey")
                .filter(F.col("_t") < F.col("_s"))
                .select("_s", "_key").distinct()
            )
            cand = cand.join(blocked, ["_s", "_key"], "leftanti")
        new_tf = cand.groupBy(F.col("_key").alias("_tkey")).agg(F.min("_s").alias("_t"))
        tf = tf.unionByName(new_tf).localCheckpoint(eager=False)

    # --- first blocking depth per row → effective touch depth ---
    row_pref = rows.select(
        "_s", "_n",
        F.posexplode(_prefix_keys(F.col("_rev"), F.lit(1), F.col("_n"))).alias("_d0", "_tkey"),
    ).withColumn("_d", F.col("_d0") + 1)
    dblk = (
        row_pref.join(tf, "_tkey")
        .filter(F.col("_t") < F.col("_s"))
        .groupBy("_s").agg(F.min("_d").alias("_dblk"))
    )
    contrib = (
        rows.join(dblk, "_s", "left")
        .withColumn("_deff", F.coalesce("_dblk", "_n"))
        .select(
            "_s",
            F.explode(_prefix_keys(F.col("_rev"), F.lit(1), F.col("_deff"))).alias("_ckey"),
        )
    )
    ct = contrib.groupBy("_ckey").agg(F.min("_s").alias("_ct"))

    # --- visit key = [ct(prefix_1) .. ct(prefix_n)] per row ---
    surv_pref = rows.select(
        "file_order", "linenumber",
        F.posexplode(_prefix_keys(F.col("_rev"), F.lit(1), F.col("_n"))).alias("_d0", "_ckey"),
    )
    return (
        surv_pref.join(ct, "_ckey")
        .groupBy("file_order", "linenumber")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_d0", "_ct"))),
                lambda x: x["_ct"],
            ).alias("visit_key")
        )
    )


def python_flow_survivors(
    result: DomainModeResult, df: DataFrame, method: str = "pointer",
    keep_order_cols: bool = False,
) -> DataFrame:
    """Survivors ordered as the reference PYTHON tool writes them (vs the C
    binary's inline order that dedup_dnsbl/write_survivor_files replays):
    regex carry-over rows first — written during the read pass,
    pfb_dnsbl_prune.py:227-230,281-283 — then the deduped survivors, by
    original row index for --method pointer (:310-327) or by tree-visit
    order for --method standard (:300-308). Returns the survivor rows with
    ordering columns (_regex_first, _okey) applied."""
    surv = result.survivors
    regex = surv.filter(F.col("match_strength") == 2)
    rest = surv.filter(F.col("match_strength") != 2)
    if method == "pointer":
        ordered = (
            regex.withColumn("_r", F.lit(0)).unionByName(rest.withColumn("_r", F.lit(1)))
            .withColumn("_okey", F.array(_seq()))
        )
    elif method == "standard":
        keys = standard_visit_keys(df)
        rest = rest.join(keys, ["file_order", "linenumber"])
        ordered = (
            regex.withColumn("_r", F.lit(0)).withColumn("_okey", F.array(_seq()))
            .unionByName(
                rest.withColumn("_r", F.lit(1)).withColumnRenamed("visit_key", "_okey")
                .select(*regex.columns, "_r", "_okey")
            )
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    if keep_order_cols:
        # distributed-sink mode: the caller sorts within per-file partitions
        # on (_r, _okey) instead of a global orderBy (sinks.py)
        return ordered
    return ordered.orderBy("source_file", "_r", "_okey").drop("_r", "_okey")


def write_survivor_files(result: DomainModeResult, out_dir: str) -> dict[str, list[str]]:
    """Materialize per-source-file survivor line lists (the reference's O2
    merge-skip sink, pfb_prune.c:666-728: output = surviving raw lines,
    byte-identical, ascending line order). Returns {source_file: [raw_line]}.

    Driver-side collect is fine for fixture-scale parity checks; the scale
    path is ``sources.sinks.write_survivor_text_files``.

    A source whose every line was pruned still gets an (empty) entry — the
    reference writes an empty output file for it (pfb_prune.c:666-728, and
    the CLI sink write_survivor_text_files mirrors that); the full source
    list is recovered from survivors ∪ dropped lineage.
    """
    rows = (
        result.survivors.select("source_file", "linenumber", "raw_line")
        .orderBy("source_file", "linenumber")
        .collect()
    )
    sources = [
        r.source_file
        for r in result.survivors.select("source_file")
        .unionByName(result.dropped.select("source_file"))
        .distinct().collect()
    ]
    out: dict[str, list[str]] = {s: [] for s in sources}
    for r in rows:
        out.setdefault(r.source_file, []).append(r.raw_line)
    return out
