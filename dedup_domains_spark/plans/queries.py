"""Query catalog: the dedup engine's operators — domain-mode rules, code
dedup (exact, MinHash/LSH, SimHash, verify, containment, CC, pipeline) and
corpus curation — exposed as (Spark DataFrame function, DuckDB oracle SQL)
pairs over the test-data tables (one parquet file per table in each
scale-factor directory).

Contract (README / __spark_entry__.py): each Spark builder takes
(spark, sf_dir) and returns a DataFrame whose column NAMES and VALUES match
the oracle SQL run by DuckDB on the same parquet files. Aggregates are
aliased identically on both sides; floats are rounded on both sides.
Entries with oracle=None are non-SQL-expressible (signature/LSH internals,
iterative pipeline) and get the driver's rows-only check.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dedup_domains_spark.config import DedupConfig
from dedup_domains_spark.functions import text as T


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@dataclass
class CatalogQuery:
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]          # DuckDB SQL or None (rows-only check)
    survey_ref: str                # SURVEY.md §2 operator ids this covers


QUERIES: dict[str, CatalogQuery] = {}


def _q(name: str, oracle: Optional[str], survey_ref: str):
    def deco(fn):
        QUERIES[name] = CatalogQuery(fn, oracle, survey_ref)
        return fn
    return deco


def _materialize(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint for a shared fan-out node inside one catalog
    query. Spark's block cache does not dedupe CONCURRENT computation of an
    unpopulated cached plan within one job (BENCH.md gotcha — the pipeline
    materializes sig_df eagerly for the same reason), so a signature/shingle
    table consumed by 3-4 downstream branches would run its expensive
    stage 3-4x concurrently. A plain .cache() is ruled out here: the bench's
    best-of-2 reps re-invoke the query function, and the cache manager would
    match rep 2's identical logical plan against rep 1's populated blocks —
    rep 2 would measure a cache read, not the engine. localCheckpoint blocks
    hang off this invocation's RDD, so every rep pays its own full pass."""
    return df.localCheckpoint()


def _synthetic_uid(col, offset: int, limit: int):
    """doc_id + offset for planted twin/batch rows, failing LOUDLY if a real
    id ever reaches the offset band (ADVICE r03: a silent collision would
    misclassify old docs as new / merge unrelated synthetic rows). The limit
    is the strictest bound that keeps every synthetic band disjoint from the
    real ids and from each other; the oracle SQL assumes the same invariant,
    so violating it must be an error, not a wrong answer."""
    return F.when(col < limit, col + offset).otherwise(
        F.raise_error(
            F.format_string(
                f"synthetic uid collision: doc_id %s >= {limit} overlaps "
                f"the +{offset} planted band", col.cast("string"),
            )
        )
    )


# ---------------------------------------------------------------------------
# D1: exact-duplicate collapse (reference domaintree.c:259-294)
# ---------------------------------------------------------------------------

@_q(
    "exact_dedup_clusters",
    """
    SELECT sha256(text) AS content_sha256,
           min(doc_id)  AS rep_id,
           count(*)     AS cluster_size
    FROM documents GROUP BY sha256(text)
    """,
    "D1",
)
def exact_dedup_clusters(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.sha2("text", 256).alias("content_sha256"))
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("cluster_size"))
    )


@_q(
    "exact_dedup_survivors",
    """
    SELECT doc_id, content_sha256 FROM (
      SELECT doc_id, sha256(text) AS content_sha256,
             row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
    "D1,O1",
)
def exact_dedup_survivors(spark, sf_dir):
    # row_number()=1 ordered by doc_id ≡ min(doc_id) per hash group — but as
    # an aggregate the map side PARTIALLY collapses duplicate hashes before
    # the Exchange and nothing is sorted (guide §2.3 "aggregate before you
    # shuffle"): the window formulation shuffled every row and sorted each
    # hash partition just to drop all but one row per key.
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.sha2("text", 256).alias("content_sha256"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "content_sha256")
    )


# ---------------------------------------------------------------------------
# F1: validity filter (reference pfb_prune.c:147-163, pfb_dnsbl_prune.py:208-217)
# ---------------------------------------------------------------------------

@_q(
    "validity_filter",
    """
    SELECT doc_id,
           CASE WHEN n_chars < 60 THEN 'too_short'
                WHEN n_chars > 400 THEN 'too_long'
                ELSE 'ok' END AS validity
    FROM documents
    """,
    "F1",
)
def validity_filter(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("n_chars") < 60, "too_short")
        .when(F.col("n_chars") > 400, "too_long")
        .otherwise("ok")
        .alias("validity"),
    )


# ---------------------------------------------------------------------------
# F2: type router (reference pfb_prune.c:186-210)
# ---------------------------------------------------------------------------

@_q(
    "type_router",
    """
    SELECT event_id,
           CASE WHEN event_type = 'error' THEN 'carry_over' ELSE 'dedup' END AS route
    FROM events
    """,
    "F2",
)
def type_router(spark, sf_dir):
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "error", "carry_over")
        .otherwise("dedup").alias("route"),
    )


# ---------------------------------------------------------------------------
# T1/X1: reversed-label view + canonical sort (reference domain.c:236-318,
# sort_in_memory.py:57-73)
# ---------------------------------------------------------------------------

@_q(
    "reversed_host_labels",
    """
    SELECT doc_id,
           array_to_string(list_reverse(string_split(source || '.example.com', '.')), '.')
             AS reversed_host
    FROM documents
    """,
    "T1,X1",
)
def reversed_host_labels(spark, sf_dir):
    host = F.concat(F.col("source"), F.lit(".example.com"))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(F.reverse(F.split(host, r"\.")), ".").alias("reversed_host"),
    )


# ---------------------------------------------------------------------------
# D2: parent-domain subsumption via anti-join (reference domaintree.c:330-339)
# ---------------------------------------------------------------------------

@_q(
    "parent_domain_subsumption",
    """
    WITH rows_d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN 'd' || (doc_id % 50) || '.com'
                  ELSE 'h' || doc_id || '.d' || (doc_id % 50) || '.com' END AS domain,
             CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS strength
      FROM documents)
    SELECT doc_id, domain FROM rows_d d
    WHERE d.strength = 1
       OR NOT EXISTS (SELECT 1 FROM rows_d p
                      WHERE p.strength = 1
                        AND p.domain = 'd' || (d.doc_id % 50) || '.com')
    """,
    "D2,D3",
)
def parent_domain_subsumption(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("d"), (F.col("doc_id") % 50).cast("string"), F.lit(".com")),
        ).otherwise(
            F.concat(
                F.lit("h"), F.col("doc_id").cast("string"), F.lit(".d"),
                (F.col("doc_id") % 50).cast("string"), F.lit(".com"),
            )
        ).alias("domain"),
        F.when(F.col("doc_id") % 7 == 0, 1).otherwise(0).alias("strength"),
    )
    full_keys = d.filter("strength = 1").select(F.col("domain").alias("full_domain")).distinct()
    children = d.filter("strength = 0").withColumn(
        "parent",
        F.concat(F.lit("d"), (F.col("doc_id") % 50).cast("string"), F.lit(".com")),
    )
    kept_children = children.join(
        F.broadcast(full_keys), children["parent"] == full_keys["full_domain"], "leftanti"
    )
    return d.filter("strength = 1").select("doc_id", "domain").unionByName(
        kept_children.select("doc_id", "domain")
    )


# ---------------------------------------------------------------------------
# D1/D3: strength-upgrade election (reference domaintree.c:259-294)
# ---------------------------------------------------------------------------

@_q(
    "strength_election",
    """
    SELECT key, doc_id AS winner_id, strength AS winner_strength FROM (
      SELECT doc_id % 25 AS key, doc_id, doc_id % 3 AS strength,
             row_number() OVER (PARTITION BY doc_id % 25
                                ORDER BY doc_id % 3 DESC, doc_id ASC) AS rn
      FROM documents) WHERE rn = 1
    """,
    "D1,D3",
)
def strength_election(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 25).alias("key"),
        "doc_id",
        (F.col("doc_id") % 3).alias("strength"),
    )
    w = Window.partitionBy("key").orderBy(F.col("strength").desc(), F.col("doc_id").asc())
    return (
        d.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        .select("key", F.col("doc_id").alias("winner_id"),
                F.col("strength").alias("winner_strength"))
    )


# ---------------------------------------------------------------------------
# O1: order-restoring output (reference pfb_prune.c:639-659)
# ---------------------------------------------------------------------------

@_q(
    "ordered_survivors",
    """
    SELECT source,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS pos,
           doc_id
    FROM documents
    """,
    "O1,O2",
)
def ordered_survivors(spark, sf_dir):
    w = Window.partitionBy("source").orderBy("doc_id")
    return _t(spark, sf_dir, "documents").select(
        "source", F.row_number().over(w).alias("pos"), "doc_id"
    )


# ---------------------------------------------------------------------------
# D4: regex-kill (reference pfb_dnsbl_prune.py:36-57,187-190)
# ---------------------------------------------------------------------------

@_q(
    "regex_kill",
    """
    SELECT doc_id FROM documents
    WHERE NOT (regexp_matches(text, '^key') OR regexp_matches(text, 'spark'))
    """,
    "D4",
)
def regex_kill_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.filter(
        ~(F.col("text").rlike("^key") | F.col("text").rlike("spark"))
    ).select("doc_id")


# ---------------------------------------------------------------------------
# M1: metrics rollup (reference pfb_dnsbl_prune.py:233-241 counters)
# ---------------------------------------------------------------------------

@_q(
    "metrics_rollup",
    """
    SELECT source,
           count(*) AS n_input,
           count(DISTINCT sha256(text)) AS n_unique,
           count(*) - count(DISTINCT sha256(text)) AS n_dup
    FROM documents GROUP BY source
    """,
    "M1",
)
def metrics_rollup(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_input"),
            F.countDistinct(F.sha2("text", 256)).alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct(F.sha2("text", 256))).alias("n_dup"),
        )
    )


# ---------------------------------------------------------------------------
# S2: multi-source union (reference pfb_prune.c:219-261)
# ---------------------------------------------------------------------------

@_q(
    "multi_source_union",
    """
    SELECT c_name AS name, 'customer' AS src FROM customer
    UNION ALL
    SELECT s_name AS name, 'supplier' AS src FROM supplier
    """,
    "S2",
)
def multi_source_union(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("src")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("src")
    )
    return c.unionByName(s)


# ---------------------------------------------------------------------------
# S3: CSV tokenize / project (reference csvline.c:202-234)
# ---------------------------------------------------------------------------

@_q(
    "csv_tokenize",
    """
    SELECT doc_id,
           string_split(doc_id || ',' || lang || ',' || source, ',')[2] AS col_lang,
           string_split(doc_id || ',' || lang || ',' || source, ',')[3] AS col_source
    FROM documents
    """,
    "S3",
)
def csv_tokenize(spark, sf_dir):
    line = F.concat_ws(",", F.col("doc_id").cast("string"), "lang", "source")
    cols = F.split(line, ",")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.element_at(cols, 2).alias("col_lang"),
        F.element_at(cols, 3).alias("col_source"),
    )


# ---------------------------------------------------------------------------
# Text analysis (training-data ops)
# ---------------------------------------------------------------------------

@_q(
    "token_count",
    r"""
    SELECT doc_id, len(regexp_extract_all(text, '\w+')) AS n_tokens FROM documents
    """,
    "text:token_count",
)
def token_count_q(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", T.token_count(F.col("text")).alias("n_tokens")
    )


_STOP_SQL = "['the','a','of','and','to','in','is','for']"


@_q(
    "lang_id",
    f"""
    SELECT doc_id,
           round(len(list_filter(string_split(lower(text), ' '),
                                 x -> list_contains({_STOP_SQL}, x)))
                 / greatest(len(string_split(lower(text), ' ')), 1), 4)
             AS stopword_ratio,
           (len(list_filter(string_split(lower(text), ' '),
                            x -> list_contains({_STOP_SQL}, x)))
            / greatest(len(string_split(lower(text), ' ')), 1)) >= 0.05
             AS is_english
    FROM documents
    """,
    "text:lang_id",
)
def lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    ratio = T.stopword_ratio(F.col("text"))
    return d.select(
        "doc_id",
        F.round(ratio, 4).alias("stopword_ratio"),
        (ratio >= 0.05).alias("is_english"),
    )


@_q(
    "quality_score",
    rf"""
    SELECT doc_id,
           round(
             0.4 * least(len(regexp_extract_all(text, '\w+')) / 100.0, 1.0)
           + 0.3 * least((len(list_filter(string_split(lower(text), ' '),
                                          x -> list_contains({_STOP_SQL}, x)))
                          / greatest(len(string_split(lower(text), ' ')), 1)) * 5.0, 1.0)
           + 0.3 * (1.0 - len(regexp_replace(text, '[\w\s]', '', 'g'))
                        / greatest(length(text), 1))
           , 4) AS quality
    FROM documents
    """,
    "text:quality",
)
def quality_score_q(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.round(T.quality_score(F.col("text")), 4).alias("quality")
    )


@_q(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS fingerprint
    FROM documents
    """,
    "text:fingerprint",
)
def doc_fingerprint_q(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", T.doc_fingerprint(F.col("text")).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# tf-idf top-k terms per document (keyword extraction for corpus triage)
# ---------------------------------------------------------------------------

@_q(
    "tfidf_topk_terms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM tok WHERE term <> '' GROUP BY doc_id, term),
    dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, tf.term AS term, tf.tf AS tf,
             tf.tf * (n_docs + 1.0) / (dfc.df + 1.0) AS tfidf
      FROM tf JOIN dfc ON tf.term = dfc.term CROSS JOIN n)
    SELECT doc_id, term, tf, round(tfidf, 4) AS tfidf
    FROM (SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    "text:tfidf",
)
def tfidf_topk_terms(spark, sf_dir):
    """Top-5 tf-idf terms per document.

    Scoring uses the raw-ratio idf variant tf * (N+1)/(df+1) rather than a
    logarithmic idf DELIBERATELY: ln() is transcendental and libm results
    differ in the last ulp between the JVM and DuckDB, which would make the
    round-to-4 oracle hash flaky at rounding boundaries; IEEE-754 division
    is correctly rounded on both engines, so the ratio is bit-identical.
    Ranking is unaffected (x -> ln is monotone).

    Scale shape: one shuffle to groupBy (doc_id, term) with map-side
    combine, then two window passes — df counted over a term-partitioned
    window (vocabulary can be billions of distinct tokens at web scale, so
    the df table is NOT broadcast), top-k over a doc-partitioned window
    that prunes to <= k rows per doc. No join, no cartesian; the corpus
    scalar N rides in via a broadcast single-row cross join.
    """
    # repartition off the single-row-group scan so the explode + map-side
    # combine run on all cores (guide §2.5; same fix as _ngram_jaccard_graph)
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n = d.agg(F.count("*").alias("n_docs"))
    w_term = Window.partitionBy("term")
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    scored = (
        tf.withColumn("df", F.count("*").over(w_term))
        .join(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * (F.col("n_docs") + F.lit(1.0))
            / (F.col("df") + F.lit(1.0)),
        )
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_doc))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "term", "tf", F.round("tfidf", 4).alias("tfidf"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (SQL-expressible dedup variant)
# ---------------------------------------------------------------------------

@_q(
    "ngram_jaccard_pairs",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS u(i)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ic
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b,
           round(ic * 1.0 / (sa.sz + sb.sz - ic), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE ic * 1.0 / (sa.sz + sb.sz - ic) >= 0.5
    """,
    "dedup:ngram_jaccard",
)
def ngram_jaccard_pairs(spark, sf_dir):
    return _ngram_jaccard_graph(spark, sf_dir, threshold=0.5).select(
        "id_a", "id_b", F.round(F.col("_jac"), 4).alias("jaccard")
    )


def _ngram_jaccard_graph(spark, sf_dir, threshold: float):
    """Shared trigram-Jaccard pair builder for ngram_jaccard_pairs (0.5) and
    connected_components_ngram (0.3). Shape (round 6 restructure, guide
    §2.4/§2.5):

    * repartition("doc_id") straight off the scan: the driver's parquet
      tables are single-row-group files, so the scan — and every map-side
      operator above it, which here is the whole tokenize+explode chain —
      otherwise runs on ONE core (guide §2.5 input skew). One tiny
      full-text shuffle parallelizes all of it, and the identical Exchange
      is reused by every consumer subtree (the r05 plan computed the
      explode+distinct chain FOUR times: both join sides and both size
      aggregates).
    * no `.distinct()`: ngram_shingles already emits array_distinct per
      doc, so (doc_id, s) rows are unique by construction — the global
      distinct was a full extra Exchange + dedup of the shingle mass for
      nothing (hash-collision caveat is the same 2^-64 class the r05
      hashed-key change accepted; oracle-verified identical at all SFs).
    * sizes aggregate keys on doc_id, which the repartition already
      clusters — zero additional Exchange.
    * shingles join on xxhash64 longs, not trigram strings: 8-byte keys
      carry 3-5x less than ~20-40-byte trigrams (unchanged from r05).
    """
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    sh = (
        d.select("doc_id", F.explode(T.ngram_shingles(F.col("text"), 3)).alias("_g"))
        .select("doc_id", F.xxhash64("_g").alias("s"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("ic"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb"))
    jac = F.col("ic") / (F.col("sza") + F.col("szb") - F.col("ic"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .filter(jac >= threshold)
        .withColumn("_jac", jac)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination + sub-document chunk dedup (training-data ops)
# ---------------------------------------------------------------------------

@_q(
    "decontaminate_13gram",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT DISTINCT doc_id,
             CASE WHEN len(t) >= 13 THEN array_to_string(t[i:i+12], ' ')
                  ELSE array_to_string(t, ' ') END AS g
      FROM toks, unnest(generate_series(1, greatest(len(t) - 12, 1))) AS u(i)),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
    SELECT g2.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM grams g2 JOIN bench USING (g)
    WHERE g2.doc_id % 20 != 0
    GROUP BY g2.doc_id
    """,
    "decontamination: docs sharing a 13-gram with the benchmark set",
)
def decontaminate_13gram(spark, sf_dir):
    """GPT-3-style benchmark decontamination: flag corpus docs that share
    any 13-token n-gram with a held-out benchmark set (here: doc_id%20==0
    as the stand-in benchmark). Scale shape: the benchmark gram set is
    small by construction → broadcast semi-join against the corpus gram
    explode; the corpus side never shuffles its gram mass."""
    # repartition off the single-row-group scan: the 13-gram explode is the
    # whole cost of this query and otherwise runs on one core; both the
    # bench side and the corpus side sit above the same reusable Exchange
    # (guide §2.5)
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    grams = d.select(
        "doc_id", F.explode(T.ngram_shingles(F.col("text"), 13)).alias("g")
    )
    bench = grams.filter("doc_id % 20 = 0").select("g").distinct()
    return (
        grams.filter("doc_id % 20 != 0")
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


@_q(
    "chunk_dedup_stats",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    chunks AS (
      SELECT doc_id, md5(array_to_string(t[(i-1)*20+1:i*20], ' ')) AS ch
      FROM toks,
           unnest(generate_series(
             1, greatest(CAST(ceil(len(t) / 20.0) AS INT), 1))) AS u(i)),
    freq AS (SELECT ch, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY ch)
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN freq.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks
    FROM chunks c JOIN freq USING (ch)
    GROUP BY c.doc_id
    """,
    "sub-document dedup: aligned 20-token chunk sharing across docs",
)
def chunk_dedup_stats(spark, sf_dir):
    """Sub-document (chunk-level) dedup accounting — the CCNet/RefinedWeb
    notion of removing repeated boilerplate spans, on a corpus without
    newlines: each doc splits into aligned 20-token chunks, a chunk shared
    by >=2 distinct docs is duplicate mass. Shuffle carries (doc_id,
    16-byte chunk hash) only — content never moves."""
    # repartition off the single-row-group scan: the tokenize+md5 chunk
    # explode is the cost here and both consumers (freq + join) sit above
    # the same reusable Exchange (guide §2.5)
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = T.tokens(F.col("text"))
    nch = F.greatest(
        F.ceil(F.size(toks) / F.lit(20.0)).cast("int"), F.lit(1)
    )
    chunks = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), nch),
                lambda i: F.md5(
                    F.array_join(F.slice(toks, (i - 1) * 20 + 1, 20), " ")
                ),
            )
        ).alias("ch"),
    )
    freq = chunks.groupBy("ch").agg(F.countDistinct("doc_id").alias("nd"))
    return (
        chunks.join(freq, "ch")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("nd") >= 2).cast("long")).alias("n_shared_chunks"),
        )
    )


# ---------------------------------------------------------------------------
# Repo-level near-dup + line-boilerplate scrub + stratified sampling
# (training-data curation ops above document granularity)
# ---------------------------------------------------------------------------

@_q(
    "repo_file_jaccard",
    """
    WITH base AS (SELECT source AS repo, md5(text) AS fh FROM documents),
    fork AS (
      SELECT source || '__fork' AS repo, md5(text) AS fh
      FROM documents WHERE doc_id % 10 != 0
      UNION ALL
      SELECT DISTINCT source || '__fork', md5('forkfile-' || source)
      FROM documents),
    files AS (
      SELECT DISTINCT repo, fh
      FROM (SELECT * FROM base UNION ALL SELECT * FROM fork)),
    freq AS (SELECT fh, count(*) AS nr FROM files GROUP BY fh),
    keep AS (SELECT f.repo, f.fh FROM files f JOIN freq USING (fh)
             WHERE nr <= 100),
    sizes AS (SELECT repo, count(*) AS n FROM keep GROUP BY repo),
    shared AS (
      SELECT a.repo AS repo_a, b.repo AS repo_b, count(*) AS n_shared
      FROM keep a JOIN keep b ON a.fh = b.fh AND a.repo < b.repo
      GROUP BY 1, 2)
    SELECT repo_a, repo_b, CAST(n_shared AS BIGINT) AS n_shared,
           round(n_shared * 1.0 / (sa.n + sb.n - n_shared), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.repo = shared.repo_a
    JOIN sizes sb ON sb.repo = shared.repo_b
    WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.5
    """,
    "repo-level near-dup: exact file-hash-set Jaccard between repos",
)
def repo_file_jaccard(spark, sf_dir):
    """Repo-granularity near-duplicate detection (the BigCode/The-Stack
    fork-collapse step): two repos are near-dups when the Jaccard of their
    file-content-hash SETS >= 0.5. Planted truth: each `source` gets a
    `__fork` twin holding 90% of its files verbatim plus one new file
    (J ~= 0.88), so every source must pair with exactly its fork.

    Scale shape: files reduce to (repo, 16-byte hash) before anything
    joins — content never shuffles; a document-frequency cap (hash in
    > 100 repos = vendored boilerplate, e.g. a LICENSE file in half of
    GitHub) bounds the pair-explosion of the hash self-join exactly like
    the containment df-cap; sizes join on repo keys only. No broadcast of
    the repo list is assumed — at 10^8 repos both joins are plain
    shuffle-hash joins on ids."""
    # NOT repartitioned off the scan: unlike the explode-heavy queries, the
    # map work here is one md5 per row — measured (r06 A/B) the extra
    # full-row shuffle loses to the serial hash at this table size
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(F.col("source").alias("repo"), F.md5("text").alias("fh"))
    fork = docs.filter("doc_id % 10 != 0").select(
        F.concat("source", F.lit("__fork")).alias("repo"),
        F.md5("text").alias("fh"),
    ).unionByName(
        docs.select("source").distinct().select(
            F.concat("source", F.lit("__fork")).alias("repo"),
            F.md5(F.concat(F.lit("forkfile-"), F.col("source"))).alias("fh"),
        )
    )
    files = base.unionByName(fork).distinct()
    freq = files.groupBy("fh").agg(F.count(F.lit(1)).alias("nr"))
    keep = files.join(freq.filter("nr <= 100"), "fh").select("repo", "fh")
    sizes = keep.groupBy("repo").agg(F.count(F.lit(1)).alias("n"))
    a = keep.select(F.col("repo").alias("repo_a"), "fh")
    b = keep.select(F.col("repo").alias("repo_b"), "fh")
    shared = (
        a.join(b, "fh")
        .filter(F.col("repo_a") < F.col("repo_b"))
        .groupBy("repo_a", "repo_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("repo").alias("repo_a"), F.col("n").alias("_na"))
    sb = sizes.select(F.col("repo").alias("repo_b"), F.col("n").alias("_nb"))
    jac = F.col("n_shared") / (F.col("_na") + F.col("_nb") - F.col("n_shared"))
    return (
        shared.join(sa, "repo_a").join(sb, "repo_b")
        .filter(jac >= 0.5)
        .select(
            "repo_a", "repo_b", "n_shared", F.round(jac, 4).alias("jaccard")
        )
    )


@_q(
    "line_boilerplate_scrub",
    """
    WITH docs AS (
      SELECT doc_id,
             text || chr(10) || 'unique ' || doc_id
               || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) ||
                            'Licensed under the Apache License Version 2'
                       ELSE '' END AS content
      FROM documents),
    l AS (SELECT doc_id, string_split(content, chr(10)) AS arr FROM docs),
    lines AS (SELECT doc_id, unnest(arr) AS line,
                     generate_subscripts(arr, 1) AS pos FROM l),
    freq AS (SELECT line, count(DISTINCT doc_id) AS nd FROM lines GROUP BY line)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN nd >= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           md5(string_agg(CASE WHEN nd < 10 THEN line END, chr(10)
                          ORDER BY pos)) AS cleaned_md5
    FROM lines JOIN freq USING (line)
    GROUP BY doc_id
    """,
    "line-level boilerplate scrub (C4/CCNet corpus-frequency line dedup)",
)
def line_boilerplate_scrub(spark, sf_dir):
    """C4/CCNet-style line-level dedup: a line appearing in >= 10 distinct
    documents across the corpus is boilerplate and is scrubbed from every
    document; the cleaned content (remaining lines, original order) is
    pinned by md5. Planted truth: every doc gets a unique line (never
    scrubbed) and every third doc a shared license line (df ~ n/3, always
    scrubbed above 30 docs).

    Scale shape: the document-frequency count groups by a 16-byte line
    hash, not the line text, so the wide content column shuffles exactly
    once (the posexplode); the flagged-line set is tiny by definition
    (boilerplate = few distinct values) and broadcasts back as the scrub
    filter. Reassembly is a per-doc sort of (pos, line) structs — no
    window, one aggregation."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n"), F.lit("unique "), F.col("doc_id"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\nLicensed under the Apache License Version 2"),
            ).otherwise(F.lit("")),
        ).alias("content"),
    )
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split("content", "\n")).alias("pos", "line"),
    ).withColumn("lh", F.md5("line"))
    flagged = (
        lines.groupBy("lh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter("nd >= 10")
        .select("lh")
    )
    marked = lines.join(
        F.broadcast(flagged.withColumn("_rm", F.lit(True))), "lh", "left"
    ).withColumn("_rm", F.coalesce("_rm", F.lit(False)))
    kept_sorted = F.array_sort(
        F.collect_list(
            F.when(~F.col("_rm"), F.struct("pos", "line"))
        )
    )
    # ADVICE r03: if EVERY line of a doc were flagged, Spark's
    # md5(array_join(empty)) = md5('') while DuckDB's string_agg over
    # all-NULL is NULL — return NULL on both sides instead. Unreachable
    # today (each doc carries a planted unique line), but the twin must not
    # depend on that invariant.
    kept_md5 = F.when(
        F.size(kept_sorted) > 0,
        F.md5(F.array_join(F.transform(kept_sorted, lambda s: s["line"]), "\n")),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("_rm").cast("long")).alias("n_removed"),
        kept_md5.alias("cleaned_md5"),
    )


@_q(
    "stratified_sample",
    """
    SELECT doc_id, lang,
           CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) % 1000 AS BIGINT) AS bucket
    FROM documents
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            % 1000
          < CASE lang WHEN 'en' THEN 300 WHEN 'zh' THEN 600 ELSE 900 END
    """,
    "corpus curation: deterministic per-language stratified hash sampling",
)
def stratified_sample(spark, sf_dir):
    """Training-mix curation: down-sample each language to a target rate
    with a DETERMINISTIC hash sampler (md5 of the stable doc key -> uniform
    per-mille bucket), so the sample is reproducible across runs, resumable
    mid-job, and consistent between engines — the property rand()-based
    sampling lacks. en keeps 30%, zh 60%, the rest 90%.

    Scale shape: a pure map-side filter — no shuffle, no state, prunes at
    the scan; the quota map is a literal CASE (at 10^12 rows the sampler is
    I/O-bound, exactly as it should be)."""
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 1000
    )
    quota = (
        F.when(F.col("lang") == "en", 300)
        .when(F.col("lang") == "zh", 600)
        .otherwise(900)
    )
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < quota)
        .select("doc_id", "lang", "bucket")
    )


@_q(
    "exact_substr_spans",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, 'quoted ' || doc_id || ' ' || text
      FROM documents WHERE doc_id % 7 = 0),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
    wins AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(t[u.i:u.i+19], ' ')) AS wh
      FROM toks, unnest(generate_series(1, len(t) - 19)) AS u(i)
      WHERE len(t) >= 20),
    freq AS (SELECT wh FROM wins GROUP BY wh
             HAVING count(DISTINCT doc_id) >= 2),
    dup AS (SELECT w.doc_id, w.pos FROM wins w JOIN freq USING (wh)),
    cover AS (
      SELECT DISTINCT doc_id, CAST(u.p AS BIGINT) AS tp
      FROM dup, unnest(generate_series(pos, pos + 19)) AS u(p))
    SELECT toks.doc_id,
           CAST(len(toks.t) AS BIGINT) AS n_tokens,
           CAST(count(cover.tp) AS BIGINT) AS covered_tokens,
           round(count(cover.tp) * 1.0 / len(toks.t), 4) AS dup_fraction
    FROM toks LEFT JOIN cover ON toks.doc_id = cover.doc_id
    GROUP BY toks.doc_id, len(toks.t)
    HAVING count(cover.tp) > 0
    """,
    "exact-substring span dedup: arbitrary-offset repeated 20-token windows",
)
def exact_substr_spans(spark, sf_dir):
    """Lee et al. (2022) ExactSubstr analog: token positions covered by any
    20-token window that occurs verbatim in >= 2 distinct documents are
    duplicate mass — at ARBITRARY offsets, unlike chunk_dedup_stats'
    aligned chunks, so a shifted copy is still caught. Planted truth: every
    7th doc gets a 'quoted' twin embedding its full text at offset 2, so
    every window of the original is shared with its quote.

    Scale shape: windows reduce to (doc_id, pos, 16-byte hash) before the
    frequency shuffle — content never moves past tokenization; the repeated-
    window set joins back on the hash (a plain shuffle equi-join — at corpus
    scale the dup-window set is NOT broadcastable); coverage is a 20x
    explode of dup windows only, then one distinct-count."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "text").unionByName(
        docs.filter("doc_id % 7 = 0").select(
            _synthetic_uid(F.col("doc_id"), 2_000_000, 2_000_000).alias("doc_id"),
            F.concat(
                F.lit("quoted "), F.col("doc_id"), F.lit(" "), F.col("text")
            ).alias("text"),
        )
    )
    # repartition off the single-row-group scan: the per-window md5 explode
    # dominates this query and both wins consumers (freq + dup join) sit
    # above the same reusable Exchange (guide §2.5)
    corpus = corpus.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = corpus.select("doc_id", F.split("text", " ").alias("t"))
    nt = F.size("t")
    wins = toks.filter(nt >= 20).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), nt - 19),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.array_join(F.slice(F.col("t"), i, 20), " ")).alias("wh"),
                ),
            )
        ).alias("w"),
    ).select("doc_id", "w.pos", "w.wh")
    freq = wins.groupBy("wh").agg(
        F.countDistinct("doc_id").alias("nd")
    ).filter("nd >= 2").select("wh")
    dup = wins.join(freq, "wh").select("doc_id", "pos")
    cover = dup.select(
        "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + 19)).alias("tp")
    ).distinct()
    return (
        toks.select("doc_id", nt.cast("long").alias("n_tokens"))
        .join(cover, "doc_id")
        .groupBy("doc_id", "n_tokens")
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
        .select(
            "doc_id", "n_tokens",
            F.col("covered_tokens").cast("long").alias("covered_tokens"),
            F.round(F.col("covered_tokens") / F.col("n_tokens"), 4).alias(
                "dup_fraction"
            ),
        )
    )


@_q(
    "incremental_near_dup",
    """
    WITH old AS (SELECT doc_id AS uid, text AS content FROM documents),
    newb AS (
      SELECT doc_id + 3000000 AS uid, text || ' zz9end' AS content
      FROM documents WHERE doc_id % 10 = 0 AND n_chars >= 100
      UNION ALL
      SELECT doc_id + 4000000,
             md5(text) || ' ' || md5(text || 'a') || ' '
               || md5(text || 'b') || ' ' || md5(text || 'c')
      FROM documents WHERE doc_id % 10 = 5),
    corpus AS (SELECT * FROM old UNION ALL SELECT * FROM newb),
    toks AS (SELECT uid, string_split(content, ' ') AS t FROM corpus),
    sh AS (
      SELECT DISTINCT uid, array_to_string(t[i:i+6], ' ') AS s
      FROM toks, unnest(generate_series(1, greatest(len(t) - 6, 1))) AS u(i)),
    sizes AS (SELECT uid, count(*) AS sz FROM sh GROUP BY uid),
    inter AS (
      SELECT a.uid AS new_id, b.uid AS old_id, count(*) AS ic
      FROM sh a JOIN sh b ON a.s = b.s
      WHERE a.uid >= 3000000 AND b.uid < 3000000
      GROUP BY 1, 2)
    SELECT new_id, old_id,
           round(ic * 1.0 / (sa.sz + sb.sz - ic), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.uid = new_id
    JOIN sizes sb ON sb.uid = old_id
    WHERE ic * 1.0 / (sa.sz + sb.sz - ic) >= 0.8
    """,
    "incremental dedup: new batch vs standing corpus, asymmetric LSH + "
    "exact verification",
)
def incremental_near_dup(spark, sf_dir):
    """The daily-increment shape of the pipeline: a NEW batch (planted
    append-edit twins of corpus docs + guaranteed-novel md5-gibberish docs)
    is near-dup-checked against the standing corpus through the real
    machinery — MinHash signatures, LSH band co-bucketing restricted to
    new x old (never old x old: the standing side's bands are the
    checkpointed table at scale, plans/checkpoint.py), then EXACT 7-token
    shingle Jaccard >= 0.8 on the surviving candidates. The oracle is the
    full brute-force exact-Jaccard join, so an LSH recall miss (a true
    >= 0.8 pair not co-bucketed; P_miss < 1e-7 at J = 0.8 under r=4/b=32)
    or a phantom pair both turn the row red.

    Scale shape: signatures/bands for the standing 10^12-file side are
    READ, not recomputed (stage-checkpoint tables); the daily batch is
    orders of magnitude smaller, so the band join is map-heavy with the
    new side's bands broadcastable; exact verification joins content only
    for candidate pairs."""
    from dedup_domains_spark.functions.signatures import add_signatures
    from dedup_domains_spark.operators.lsh import lsh_band_table

    cfg = DedupConfig()
    docs = _t(spark, sf_dir, "documents")
    old = docs.select(F.col("doc_id").alias("uid"), F.col("text").alias("content"))
    # new/old split is uid >= 3e6 — real ids must stay below 1e6 so the
    # +3e6 and +4e6 bands can't collide with reals or each other
    twins = docs.filter("doc_id % 10 = 0 AND n_chars >= 100").select(
        _synthetic_uid(F.col("doc_id"), 3_000_000, 1_000_000).alias("uid"),
        F.concat("text", F.lit(" zz9end")).alias("content"),
    )
    fresh = docs.filter("doc_id % 10 = 5").select(
        _synthetic_uid(F.col("doc_id"), 4_000_000, 1_000_000).alias("uid"),
        F.concat_ws(
            " ",
            F.md5("text"),
            F.md5(F.concat("text", F.lit("a"))),
            F.md5(F.concat("text", F.lit("b"))),
            F.md5(F.concat("text", F.lit("c"))),
        ).alias("content"),
    )
    # repartition the (single-row-group-scan-fed) union once: the shingle
    # explode and the signature UDF otherwise run map-side on one core, and
    # every sh/sizes consumer shares the one Exchange (guide §2.5, same fix
    # as _ngram_jaccard_graph)
    corpus = (
        old.unionByName(twins).unionByName(fresh)
        .repartition(spark.sparkContext.defaultParallelism, "uid")
    )
    # minhash-only kernel (nothing reads simhash/probes); materialized —
    # BOTH band-table filters consume it, and without the checkpoint the
    # signature UDF would run once per side
    sig = _materialize(
        add_signatures(corpus, cfg, fields=("minhash",), repartition=0)
        .select("uid", "minhash")
    )
    bt = lsh_band_table(sig, cfg)
    cand = (
        bt.filter(F.col("uid") >= 3_000_000)
        .select(F.col("uid").alias("new_id"), "band", "band_hash")
        .join(
            bt.filter(F.col("uid") < 3_000_000).select(
                F.col("uid").alias("old_id"), "band", "band_hash"
            ),
            ["band", "band_hash"],
        )
        .select("new_id", "old_id")
        .distinct()
    )
    # no global .distinct(): ngram_shingles is array_distinct per doc, so
    # (uid, s) rows are unique by construction; shingles join on xxhash64
    # longs, not 7-gram strings (the r05 trade — 8-byte keys, 2^-64
    # collision class, oracle-verified identical)
    sh = corpus.select(
        "uid", F.explode(T.ngram_shingles(F.col("content"), 7)).alias("_g")
    ).select("uid", F.xxhash64("_g").alias("s"))
    sizes = sh.groupBy("uid").agg(F.count(F.lit(1)).alias("sz"))
    ic = (
        cand.join(sh.withColumnRenamed("uid", "new_id"), "new_id")
        .join(sh.withColumnRenamed("uid", "old_id"), ["old_id", "s"])
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("ic"))
    )
    sa = sizes.select(F.col("uid").alias("new_id"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("uid").alias("old_id"), F.col("sz").alias("szb"))
    jac = F.col("ic") / (F.col("sza") + F.col("szb") - F.col("ic"))
    return (
        ic.join(sa, "new_id").join(sb, "old_id")
        .filter(jac >= 0.8)
        .select("new_id", "old_id", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Connected components over n-gram-Jaccard edges (union-find vs recursive CTE)
# ---------------------------------------------------------------------------

_CC_EDGES_SQL = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS u(i)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ic
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE ic * 1.0 / (sa.sz + sb.sz - ic) >= 0.3)
"""

@_q(
    "connected_components_ngram",
    _CC_EDGES_SQL + """
    , edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.r FROM reach r JOIN edges e ON r.id = e.src)
    SELECT id AS uid, min(r) AS cluster_id FROM reach GROUP BY id
    """,
    "clustering:connected_components",
)
def connected_components_ngram(spark, sf_dir):
    from dedup_domains_spark.operators.connected_components import connected_components

    # pair builder shared with ngram_jaccard_pairs — see _ngram_jaccard_graph
    # for the round-6 restructure (scan repartition, no redundant distinct)
    pairs = _ngram_jaccard_graph(spark, sf_dir, threshold=0.3).select(
        "id_a", "id_b"
    )
    return connected_components(pairs)


# ---------------------------------------------------------------------------
# Signature/LSH operators — planted-truth DuckDB oracles.
#
# MinHash/SimHash signatures themselves are not SQL-recomputable, so these
# queries prove the operators against PLANTED duplicate structure derived
# deterministically from the driver's own `documents` table via
# SQL-expressible edits (VERDICT r01 item 1). The planted twin of doc i gets
# id i + 1_000_000; the oracle lists the planted pairs, and the Spark side
# must recover every one of them through the real operator machinery —
# signatures → band/block co-bucketing → verification. A recall miss, a
# batch-dependent signature, or broken banding all turn the row red.
# ---------------------------------------------------------------------------

_TWIN = 1_000_000

_PLANTED_APPEND_SQL = """
    SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents
    WHERE doc_id % 10 = 0 AND n_chars >= 100
"""
_PLANTED_IDENT_SQL = """
    SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents
    WHERE doc_id % 10 = 0
"""


def _twin_corpus(spark, sf_dir, edit: str):
    """documents ∪ planted twins as a (uid, content) corpus.

    edit='append': twin content = text || ' zz9end' (one extra token →
      shingle Jaccard ≈ (n-k+1)/(n-k+2), well above the LSH S-curve);
      restricted to docs with n_chars >= 100 so every twin has a full
      shingle set (short docs use the fallback shingle, which any single
      edit replaces entirely).
    edit='identical': twin content = text verbatim (tests that signatures
      are batch-invariant — same content in a different Arrow batch and
      partition MUST produce the identical signature).
    """
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(F.col("doc_id").alias("uid"), F.col("text").alias("content"))
    if edit == "append":
        twins = docs.filter("doc_id % 10 = 0 AND n_chars >= 100").select(
            _synthetic_uid(F.col("doc_id"), _TWIN, _TWIN).alias("uid"),
            F.concat("text", F.lit(" zz9end")).alias("content"),
        )
    else:
        twins = docs.filter("doc_id % 10 = 0").select(
            _synthetic_uid(F.col("doc_id"), _TWIN, _TWIN).alias("uid"),
            F.col("text").alias("content"),
        )
    return base.unionByName(twins)


def _docs_as_corpus(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        F.col("source").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.md5(F.col("text")).alias("commit"),
        "lang",
        F.col("text").alias("content"),
    )


@_q("minhash_lsh_pairs", _PLANTED_APPEND_SQL,
    "dedup:minhash_lsh (planted-truth recall oracle)")
def minhash_lsh_pairs(spark, sf_dir):
    """Planted near-dup pairs recovered by MinHash+LSH.

    A planted pair counts as recovered when the two docs share at least one
    (band, band_hash) bucket AND pass the MinHash-estimate verification —
    i.e. the exact co-bucketing property LSH banding guarantees for
    J ≈ 0.97 twins. (Direct pairs_from_buckets edges are hub-stars, so a
    twin pair may legitimately be connected via a hub rather than a direct
    edge; co-bucketing is the operator-level ground truth.)
    """
    from dedup_domains_spark.functions.signatures import add_signatures
    from dedup_domains_spark.operators.lsh import lsh_band_table
    from dedup_domains_spark.operators.verify import attach_minhash_estimate

    cfg = DedupConfig()
    # fan-out node: both band-table filters + both estimate joins read sig.
    # fields=("minhash",): nothing here reads simhash/fingerprints, so the kernel
    # skips the bit transpose + head-slice (guide §4 — don't compute what
    # you throw away); content is projected away so the checkpoint blocks
    # hold (uid, minhash) instead of the full corpus text (guide §2.3).
    sig = _materialize(
        add_signatures(_twin_corpus(spark, sf_dir, "append"), cfg,
                       fields=("minhash",),
                       repartition=spark.sparkContext.defaultParallelism)
        .select("uid", "minhash")
    )
    bt = lsh_band_table(sig, cfg)
    a = bt.filter((F.col("uid") < _TWIN) & (F.col("uid") % 10 == 0)).select(
        F.col("uid").alias("id_a"), "band", "band_hash"
    )
    b = bt.filter(F.col("uid") >= _TWIN).select(
        (F.col("uid") - _TWIN).alias("id_a"), "band", "band_hash"
    )
    cob = a.join(b, ["id_a", "band", "band_hash"]).select("id_a").distinct()
    pairs = cob.select("id_a", (F.col("id_a") + _TWIN).alias("id_b"))
    return (
        attach_minhash_estimate(pairs, sig, cfg)
        .filter(F.col("est_jaccard") >= cfg.jaccard_threshold)
        .select("id_a", "id_b")
    )


@_q("simhash_pairs", _PLANTED_IDENT_SQL,
    "dedup:simhash (planted-truth / batch-invariance oracle)")
def simhash_pairs(spark, sf_dir):
    """Planted identical twins recovered by SimHash pigeonhole blocking.

    Identical content MUST produce the identical 64-bit fingerprint in
    every Arrow batch (batch invariance — the classic failure mode of
    batched numpy signature code), hence share every block and pass the
    exact Hamming verification at distance 0. One-token-edit twins are NOT
    used here: a single shingle flip moves near-tie majority bits, so their
    Hamming distance is data-dependent (measured up to 10 on this fixture)
    and not a deterministic oracle target.
    """
    from dedup_domains_spark.functions.signatures import add_signatures
    from dedup_domains_spark.operators.simhash_buckets import simhash_block_table

    cfg = DedupConfig()
    # fan-out node: both block-table filters + both simhash joins read sig.
    # fields=("simhash",): nothing here reads minhash/fingerprints, so the kernel
    # skips the 128-permutation MinHash loop (guide §4); content is
    # projected away so the checkpoint holds (uid, simhash) only.
    sig = _materialize(
        add_signatures(_twin_corpus(spark, sf_dir, "identical"), cfg,
                       fields=("simhash",),
                       repartition=spark.sparkContext.defaultParallelism)
        .select("uid", "simhash")
    )
    bt = simhash_block_table(sig, cfg)
    a = bt.filter((F.col("uid") < _TWIN) & (F.col("uid") % 10 == 0)).select(
        F.col("uid").alias("id_a"), "block", "block_val"
    )
    b = bt.filter(F.col("uid") >= _TWIN).select(
        (F.col("uid") - _TWIN).alias("id_a"), "block", "block_val"
    )
    cob = a.join(b, ["id_a", "block", "block_val"]).select("id_a").distinct()
    sims = sig.select(F.col("uid").alias("_sid"), F.col("simhash").alias("_sh"))
    return (
        cob.select("id_a", (F.col("id_a") + _TWIN).alias("id_b"))
        .join(sims.withColumnRenamed("_sid", "id_a").withColumnRenamed("_sh", "_sh_a"), "id_a")
        .join(sims.withColumnRenamed("_sid", "id_b").withColumnRenamed("_sh", "_sh_b"), "id_b")
        .filter(
            F.bit_count(F.col("_sh_a").bitwiseXOR(F.col("_sh_b")))
            <= cfg.simhash_hamming_max
        )
        .select("id_a", "id_b")
    )


# Full-pipeline survivor-set SQL twin. The pipeline run uses the
# "oracle profile": rows_per_band=2 / bands=64 puts the LSH S-curve at
# (1/64)^(1/2) ≈ 0.125, so a J=0.5 pair misses candidacy with probability
# (1 - 0.5^2)^64 ≈ 1e-8 — candidate recall at the acceptance threshold is
# effectively guaranteed — and use_exact_jaccard makes the verifier compute
# true shingle-set Jaccard. Under that profile the pipeline's entire
# survivor set (exact groups ∪ J≥0.5 near edges ∪ substring containment →
# connected components → electability → lexicographic election) is
# SQL-expressible, so one oracle row pins every stage end-to-end — the
# distributed analog of the reference pinning exact trie survivors in its
# scenario tests (reference src/domaintree.c:416-1000). The SHIPPED
# geometry (r=4/b=32, estimate verify) is pinned separately by
# minhash_lsh_pairs / pipeline_planted_recall and is what bench.py's
# scaling block runs. Verified identical at sf0.001 / sf0.01 / sf0.1.
_PIPELINE_TWIN_SQL = r"""
WITH RECURSIVE
docs AS (
  SELECT doc_id, source AS repo, CAST(doc_id AS VARCHAR) AS path, lang, text,
         md5(text) AS commit,
         len(regexp_extract_all(text, '\w+|[^\w\s]')) AS ntok
  FROM documents),
toks AS (SELECT doc_id, regexp_extract_all(text, '\w+|[^\w\s]') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) >= 7 THEN array_to_string(t[i:i+6], chr(31))
              ELSE array_to_string(t, chr(31)) END AS s
  FROM toks, unnest(generate_series(1, greatest(len(t) - 6, 1))) AS u(i)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
near AS (
  SELECT i.id_a, i.id_b
  FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ic
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1,2) i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  JOIN documents da ON da.doc_id = i.id_a
  JOIN documents db ON db.doc_id = i.id_b
  WHERE da.text != db.text AND i.ic * 1.0 / (sa.sz + sb.sz - i.ic) >= 0.5),
cont AS (
  SELECT a.doc_id AS small_id, b.doc_id AS big_id
  FROM docs a JOIN docs b
    ON a.doc_id != b.doc_id AND length(a.text) < length(b.text)
   AND position(a.text IN b.text) > 0 AND a.ntok >= 32),
exact_e AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM docs a JOIN docs b ON a.text = b.text AND a.doc_id < b.doc_id),
edges0 AS (
  SELECT id_a, id_b FROM near
  UNION SELECT small_id, big_id FROM cont
  UNION SELECT id_a, id_b FROM exact_e),
edges AS (SELECT id_a AS src, id_b AS dst FROM edges0
          UNION SELECT id_b, id_a FROM edges0),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT e.dst, r.r FROM reach r JOIN edges e ON r.id = e.src),
labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
small_texts AS (SELECT DISTINCT a.text FROM docs a JOIN docs b
  ON a.doc_id != b.doc_id AND length(a.text) < length(b.text)
 AND position(a.text IN b.text) > 0 AND a.ntok >= 32),
ranked AS (
  SELECT d.repo, d.path, d.lang, d.text, l.cluster_id,
         row_number() OVER (
           PARTITION BY l.cluster_id
           ORDER BY (d.text NOT IN (SELECT text FROM small_texts)) DESC,
                    d.repo, d.path, d.commit) AS rn
  FROM docs d JOIN labels l USING (doc_id))
SELECT repo, path, lang, sha256(text) AS content_sha256
FROM ranked WHERE rn = 1
"""


@_q("code_pipeline_survivors", _PIPELINE_TWIN_SQL,
    "full pipeline survivor set vs complete SQL twin (oracle profile)")
def code_pipeline_survivors(spark, sf_dir):
    from dedup_domains_spark.plans.pipeline import run_pipeline

    cfg = DedupConfig(bands=64, rows_per_band=2, use_exact_jaccard=True)
    res = run_pipeline(spark, _docs_as_corpus(spark, sf_dir), cfg)
    return res.survivors.select("repo", "path", "lang", "content_sha256")


@_q("pipeline_planted_recall", _PLANTED_APPEND_SQL,
    "full pipeline end-to-end planted-truth cluster recall")
def pipeline_planted_recall(spark, sf_dir):
    """Planted near-dup pairs that the FULL pipeline (signatures → LSH ∪
    SimHash ∪ containment candidates → verify → connected components →
    election) assigns to the same cluster. The oracle lists all planted
    pairs, so any end-to-end recall miss — a lost edge, a broken CC round,
    a mis-keyed join — turns the row red. This is the distributed analog of
    the reference pinning exact cluster answers in its trie scenario tests
    (reference src/domaintree.c:416-1000)."""
    from dedup_domains_spark.plans.pipeline import run_pipeline
    from dedup_domains_spark.sources.code_corpus import with_row_identity

    corpus = _twin_corpus(spark, sf_dir, "append").select(
        F.lit("planted").alias("repo"),
        F.col("uid").cast("string").alias("path"),
        F.md5("content").alias("commit"),
        F.lit("txt").alias("lang"),
        "content",
    )
    res = run_pipeline(spark, corpus, DedupConfig())
    # map pipeline uids (xxhash64 of identity) back to planted ids via path
    ident = with_row_identity(corpus).select(
        F.col("uid").alias("puid"), F.col("path").cast("long").alias("planted_id")
    )
    labels = res.cluster_map.join(
        ident, res.cluster_map["uid"] == ident["puid"]
    ).select("planted_id", "cluster_id")
    a = labels.filter(
        (F.col("planted_id") < _TWIN) & (F.col("planted_id") % 10 == 0)
    ).select(F.col("planted_id").alias("id_a"), F.col("cluster_id").alias("_ca"))
    b = labels.filter(F.col("planted_id") >= _TWIN).select(
        (F.col("planted_id") - _TWIN).alias("id_a"), F.col("cluster_id").alias("_cb")
    )
    return (
        a.join(b, "id_a")
        .filter(F.col("_ca") == F.col("_cb"))
        .select("id_a", (F.col("id_a") + _TWIN).alias("id_b"))
    )


# ---------------------------------------------------------------------------
# Scale-path containment
# ---------------------------------------------------------------------------

@_q(
    "containment_probe_pairs",
    """
    SELECT a.doc_id AS small_id, b.doc_id AS big_id
    FROM documents a JOIN documents b
      ON a.doc_id != b.doc_id
     AND length(a.text) < length(b.text)
     AND position(a.text IN b.text) > 0
    """,
    "D2: fingerprint inverted-index containment (scale path) vs brute-force oracle",
)
def containment_probe_pairs(spark, sf_dir):
    """The SCALE-PATH containment operator (winnowed fingerprints → inverted
    index join → DF cap → full-house → substring verify,
    operators/containment.py, the pipeline's own path) checked against the
    brute-force cross-join oracle: the fingerprint path must find exactly
    the pairs the O(n²) oracle finds (reference rule D2,
    src/domaintree.c:330-339).

    The operator is keyed on doc_id (id_col) directly: a
    uid = xxhash64(repo, path, commit) key would add two remap joins plus a
    hash projection inside every scan subtree, for a key the operator only
    needs to be unique."""
    from dedup_domains_spark.functions.signatures import add_signatures
    from dedup_domains_spark.operators.containment import contained_pairs

    cfg = DedupConfig(min_containee_tokens=8)
    df = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content")
    )
    # fan-out node: both sides of the posting self-join read sig, so it is
    # materialized, without content. fields=("fingerprints",): containment
    # never reads minhash/simhash, so the kernel skips the 128-perm loop.
    sig = _materialize(add_signatures(
        df, cfg, fields=("fingerprints",),
        repartition=spark.sparkContext.defaultParallelism,
    ).drop("content"))
    return contained_pairs(df, sig, cfg, id_col="doc_id").select("small_id", "big_id")


# ---------------------------------------------------------------------------
# Training-data quality: repetition metrics + PII scrubbing
# ---------------------------------------------------------------------------

@_q(
    "repetition_quality",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    SELECT doc_id,
           len(t) AS n_tokens,
           len(list_distinct(t)) AS n_distinct,
           round(1.0 - len(list_distinct(t)) * 1.0 / len(t), 4) AS dup_token_frac,
           round((SELECT max(c) FROM (
                    SELECT count(*) AS c FROM unnest(t) AS u(x) GROUP BY x))
                 * 1.0 / len(t), 4) AS top_token_frac
    FROM toks
    """,
    "quality: Gopher-style repetition metrics (map-side, zero shuffle)",
)
def repetition_quality(spark, sf_dir):
    """Repetition-based quality signals (the Gopher/MassiveText family:
    duplicate-token fraction, most-frequent-token mass). Computed entirely
    with higher-order array functions — per-row, map-side, ZERO shuffle;
    at 100 TB this runs at scan speed. The top-token count is the longest
    equal-run in the SORTED token array (one aggregate pass over array_sort,
    O(n log n) per row) — the r03 transform+filter formulation was
    O(distinct x tokens) and degenerated on single-token-repeated docs."""
    d = _t(spark, sf_dir, "documents").withColumn("t", F.split("text", " "))
    run_len = lambda acc, x: (  # noqa: E731 — shared by run and best fields
        F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1))
    )
    top = F.aggregate(
        F.array_sort("t"),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run_len(acc, x).alias("run"),
            F.greatest(acc["best"], run_len(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return d.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
        F.round(1.0 - F.size(F.array_distinct("t")) / F.size("t"), 4).alias("dup_token_frac"),
        F.round(top / F.size("t"), 4).alias("top_token_frac"),
    )


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_IP_RE = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

@_q(
    "pii_scrub",
    f"""
    WITH planted AS (
      SELECT doc_id,
             text ||
             CASE WHEN doc_id % 5 = 0
                  THEN ' contact user' || doc_id || '@example.com now'
                  ELSE '' END ||
             CASE WHEN doc_id % 7 = 0
                  THEN ' from 10.' || doc_id % 256 || '.0.99'
                  ELSE '' END AS text
      FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_IP_RE}')) AS n_ips,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_IP_RE}', '<IP>', 'g')) AS scrubbed_md5
    FROM planted
    """,
    "quality: PII detection + redaction (planted emails/IPs, map-side)",
)
def pii_scrub(spark, sf_dir):
    """PII scrubbing over planted addresses: emails and IPv4s are planted
    deterministically (SQL-expressible concat), then counted and redacted
    with JVM-side regexes; the oracle recomputes the identical scrub in
    DuckDB, so count drift or a replacement mismatch turns the row red.
    Pure map-side — scan-speed at scale. Patterns restricted to syntax with
    identical semantics in Java regex and RE2."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                            F.lit("@example.com now"))).otherwise(""),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"),
                            F.lit(".0.99"))).otherwise(""),
        ),
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_IP_RE), F.lit(0))).alias("n_ips"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _IP_RE, "<IP>"
            )
        ).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered incremental dedup (new batch vs reference corpus)
# ---------------------------------------------------------------------------

@_q(
    "bloom_dedup_new_docs",
    """
    WITH corpus AS (
      SELECT sha256(text) AS sha FROM documents WHERE doc_id % 4 != 0),
    newbatch AS (
      SELECT doc_id AS new_id, sha256(text) AS sha FROM documents
      WHERE doc_id % 4 = 0
      UNION ALL
      SELECT doc_id + 1000000 AS new_id, sha256(text) AS sha FROM documents
      WHERE doc_id % 8 = 1)
    SELECT new_id FROM newbatch
    WHERE sha NOT IN (SELECT sha FROM corpus)
    """,
    "dedup: bloom-prefiltered incremental exact dedup vs anti-join oracle",
)
def bloom_dedup_new_docs(spark, sf_dir):
    """Incremental dedup of a new batch against an existing corpus with a
    broadcast Bloom prefilter (functions/bloom.py): rows that miss the
    filter are DEFINITELY new (no false negatives) and skip the join
    entirely; only bloom-positive candidates pay the exact semi-join that
    removes false positives. The final answer is exact, so the oracle is
    the plain anti-join SQL. At 10^12-file scale the prefilter cuts the
    anti-join shuffle to the tiny duplicate-candidate fraction. Planted
    duplicates (doc_id % 8 = 1 re-submitted verbatim under a new id) keep
    both branches non-vacuous."""
    from dedup_domains_spark.functions.bloom import bloom_prefilter_anti_join

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id % 4 != 0").select(F.sha2("text", 256).alias("sha"))
    new = docs.filter("doc_id % 4 = 0").select(
        F.col("doc_id").alias("new_id"), F.sha2("text", 256).alias("sha")
    ).unionByName(
        docs.filter("doc_id % 8 = 1").select(
            _synthetic_uid(F.col("doc_id"), _TWIN, _TWIN).alias("new_id"),
            F.sha2("text", 256).alias("sha"),
        )
    )
    return bloom_prefilter_anti_join(new, corpus, "sha").select("new_id")


# ---------------------------------------------------------------------------
# BPE-style pretokenization
# ---------------------------------------------------------------------------

_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
_BPE_RE_SQL = _BPE_RE.replace("'", "''")  # escape the contraction apostrophe

@_q(
    "bpe_pretokenize",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_RE_SQL}')) AS n_bpe_tokens,
           len(regexp_extract_all(text, '\\w+')) AS n_word_tokens
    FROM documents
    """,
    "token counting: GPT-2-style BPE pretokenizer split (map-side)",
)
def bpe_pretokenize(spark, sf_dir):
    """Token counting with the GPT-2-family BPE PRE-tokenizer split
    (contraction suffixes, space-prefixed letter/digit/punctuation runs,
    whitespace runs) alongside the plain word-run count. Pure JVM regex,
    map-side, scan-speed at scale; the pattern is restricted to syntax with
    identical semantics in Java regex and RE2 so the DuckDB oracle
    recomputes it exactly."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0))).alias("n_bpe_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"\w+"), F.lit(0))).alias("n_word_tokens"),
    )
