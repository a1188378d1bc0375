"""Declared-query catalog: every operator from SURVEY.md §2 exposed as a
(spark_fn, DuckDB-oracle-SQL) pair over the driver testdata tables.

Naming contract: the driver hash-compares values after sorting columns
by NAME, so every computed column is aliased identically in the Spark
plan and the oracle SQL.  Numeric outputs are integers (counts, cents,
ppm, epoch micros) wherever a double would be summation-order fragile —
see functions.exact.

Sections:
  q01-q13   reference-parity queries (SURVEY §2.9 contract)
  q14-q16   relational showcase (joins/aggs the reference lacks)
  q17-q23   beyond-reference corpus ops (dedup, ANN, text analysis)
  q24-q35   windows / set ops / JSON / subqueries / rollup
  q36-q39   temporal joins + embedding near-dup (as-of, range, cosine)
  q40-q44   supplier rollup, token budgets, exact quantiles, corpus
            pipeline, skew-salted aggregation
  q45-q51   time rollup, dedup clustering, sessions, sampling, chunking
  q52-q59   correlated agg (Q17), outer-join distribution (Q13),
            set-op cohorts, pivot, range-frame window, cube,
            repetition filter, benchmark decontamination
  q60-q72   vocab/encoding, splits, PII, TF-IDF, surprisal, span
            dedup, blocklist, gap fill, triangles, funnel, PMI,
            retention, groupwise argmin
  q73-q80   packing, degree-oriented triangles, surprisal mixture,
            shuffle-shards, full curation pipeline, media decode,
            SemDeDup, bigram-LM perplexity
  q81-q88   int8-quantized ANN, Bloom decontamination, token-budget
            mixing, PQ ANN + exact re-rank tier, k-core,
            length-bucketed batching, CDC snapshot merge
  q89-q94   SCD2 dimension history, deterministic HLL distinct,
            count-min heavy hitters, grouped z-score anomalies,
            label-propagation communities, weighted sampling
  q95-q102  remaining classic TPC-H join/subquery shapes (Q7 volume
            shipping, Q9 profit, Q11 scalar-threshold, Q16 NOT-IN
            variety, Q18 grouped-HAVING, Q19 OR-brackets, Q20 chained
            semi-join, Q21 double-correlated EXISTS)
  q103-q109 multi-source BFS hop distance, hashed-bag-of-words linear
            quality classifier, sweep-line interval concurrency,
            distributed BPE tokenizer training, BM25 retrieval,
            one-pass table profiling, blocked fuzzy entity matching
  q110-q113 first/last-touch marketing attribution (one window pass),
            batch BM25 for a query table (RAG-corpus retrieval),
            per-vertex local clustering coefficient, per-key
            exponential smoothing (bit-exact halving EWMA)
  q114      first-order Markov transition matrix over event streams
  q115-q118 TPC-H completion (Q6 scan-agg, Q12 conditional counts,
            Q14 promo share, Q15 argmax-with-ties) — all 22 classic
            shapes now covered
  q119      mergeable histogram quantile sketch (O(bins) scale path)
  q120-q121 data-quality audits: sequence completeness, referential
            integrity (orphan counts per star edge)
  q122-q124 ordered sequence assembly (capped per-user event paths),
            grouped mode (partial-aggregatable argmax), global decile
            bucketing via the distributed rank (no ntile window)
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .data import table
from .functions.exact import cents
from .functions.text import STOP_WORDS, TOKENS_SQL, ngrams, tokens
from .operators.dedup import exact_duplicates, jaccard_pairs, lsh_candidate_pairs, minhash_band_buckets
from .operators.kmeans import assign_clusters
from .operators.pagerank import pagerank
from .operators.sessionize import sessionize
from .operators.similarity import brute_force_topk
from .operators.sort import merge_sorted, with_global_rank
from .operators.textstats import LANG_MARKERS, doc_fingerprints, lang_id, text_quality

# DuckDB spelling of functions.text.tokens (behavior-exact scanner
# parity — see functions/text.py docstring).
_TOK = TOKENS_SQL

# DuckDB spelling of the engine-exact cosine discipline
# (functions/vectors.py: micro_quantize / idot / icos_ppm).  Float
# vector sums are NOT engine-exact — Spark's sequential aggregate fold
# and DuckDB's list_dot_product may accumulate in different orders, and
# a ±1-ppm rounding flip near a .5 boundary reorders ranks (q141's r05
# driver red).  Integer dots are associative, so these fragments give
# bit-identical cos_ppm on any engine.
#   _MICROQ_SQL: fixed-point component quantization to micro-units.
#   _ISELF_SQL: exact integer self-dot (norm^2) of a quantized list.
#   _ICOS_PPM_SQL: floor(1e6 * idot / (sqrt(na) * sqrt(nb)) + 0.5) —
#     every double op is a single correctly-rounded IEEE operation on
#     exactly-representable integer inputs, hence deterministic.
# The magnitude guard mirrors micro_quantize's sqrt(2^62/dim) bound
# EXACTLY (ADVICE r07): the Spark bound is deliberately stricter than
# raw int64 overflow (2^63), so relying on DuckDB's native overflow
# check would leave a band of inputs where Spark raises and the oracle
# computes values.  With the mirrored CASE both engines reject the
# identical input set (NULL components still quantize to NULL — the
# _ISELF_SQL/_IDOT_SQL guards own NULL propagation downstream).
_MICROQ_SQL = (
    "list_transform({v}, x -> CASE"
    " WHEN x IS NULL THEN NULL"
    " WHEN abs(x) * 1000000.0 + 0.5"
    "      <= sqrt(4611686018427387904.0 / greatest(len({v}), 1))"
    " THEN CAST(floor(1000000.0 * x + 0.5) AS BIGINT)"
    " ELSE CAST(error('micro_quantize: component magnitude exceeds"
    " the int64-safe bound sqrt(2^62/dim)') AS BIGINT) END)"
)
# The sums NULL-propagate explicitly: Spark's aggregate fold returns
# NULL when ANY element is NULL, but DuckDB's list_sum SKIPS NULL
# terms — without the guard a vector with one NULL component keeps a
# positive nn in the oracle's nz CTE while Spark's __n > 0 filter
# drops it, a cross-engine candidate-set divergence.  With it, both
# engines exclude partial-NULL vectors identically.
_ISELF_SQL = (
    "CAST(CASE WHEN len(list_filter({q}, x -> x IS NULL)) > 0 THEN NULL"
    " ELSE list_sum(list_transform(range(1, len({q}) + 1),"
    " i -> {q}[i] * {q}[i])) END AS BIGINT)"
)
_IDOT_SQL = (
    "CAST(CASE WHEN len(list_filter({a}, x -> x IS NULL)) > 0"
    " OR len(list_filter({b}, x -> x IS NULL)) > 0 THEN NULL"
    " ELSE list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> {a}[i] * {b}[i])) END AS BIGINT)"
)
_ICOS_PPM_SQL = (
    "CAST(floor(1000000.0 * CAST(" + _IDOT_SQL + " AS DOUBLE)"
    " / (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE)))"
    " + 0.5) AS BIGINT)"
)
# Shared CTE text: micro-quantize the embeddings table (with label) and
# drop zero-norm rows — the map-side prep every integer-cosine oracle
# starts from.
_EMB_MICRO_CTE = f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
z AS (
  SELECT vec_id, label, {_MICROQ_SQL.format(v='v')} AS q FROM e
),
nz AS (
  SELECT vec_id, label, q, nn FROM (
    SELECT vec_id, label, q, {_ISELF_SQL.format(q='q')} AS nn FROM z
  ) WHERE nn > 0
)"""

SESSION_THRESHOLD_US = 30_000 * 1_000_000  # 30 000 s, in epoch micros


# ---------------------------------------------------------------- reference
# Q1 GraySort: total order with observable rank (SURVEY §2.5 O7).
def q01_sort_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    return with_global_rank(ev, ["user_id", "ts_us", "event_id"], rank_col="pos")


_Q01_SQL = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       CAST(row_number() OVER (ORDER BY user_id, epoch_us(ts), event_id) AS BIGINT) AS pos
FROM events
"""


# Q2 MinuteSort analog: sort a second table on a composite key.
def q02_sort_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", cents("l_extendedprice").alias("price_cents")
    )
    # (l_orderkey, l_linenumber) is not unique in the synthetic data, so
    # price_cents joins the key; full-duplicate rows then interchange
    # positions, which the unordered multiset compare is blind to.
    return with_global_rank(
        li, ["l_orderkey", "l_linenumber", "price_cents"], rank_col="pos"
    )


_Q02_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents,
       CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber,
                               CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS pos
FROM lineitem
"""


# Q3 WordCount (tokenizer F1 + A2/A3 sum-reduce).
def q03_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_Q03_SQL = f"""
SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest({_TOK.format(col='text')}) AS w FROM documents)
GROUP BY w
"""


# Q4 N-gram count (F2), n=3.
def q04_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(tokens("text").alias("toks"))  # materialize once
        .select(F.explode(ngrams(F.col("toks"), 3)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_Q04_SQL = f"""
WITH toks AS (SELECT {_TOK.format(col='text')} AS t FROM documents)
SELECT g AS gram, CAST(count(*) AS BIGINT) AS cnt
FROM (
  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
  FROM toks
)
GROUP BY g
"""


# Q5 Inverted index (A8): flattened postings (word, doc, tf) + doc-freq.
def q05_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    postings = (
        docs.select("doc_id", F.explode(tokens("text")).alias("word"))
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = postings.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    return postings.join(dfreq, "word").select("word", "doc_id", "tf", "df")


_Q05_SQL = f"""
WITH postings AS (
  SELECT w AS word, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_TOK.format(col='text')}) AS w FROM documents)
  GROUP BY w, doc_id
)
SELECT word, doc_id, tf, CAST(count(*) OVER (PARTITION BY word) AS BIGINT) AS df
FROM postings
"""


# Q6 Sessionization with the reference anchor-reset rule
# (ClickLogSessionSummarizerReduceFunction.cc:10-65).
def q06_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_type").alias("url"),
        "event_id",
    )
    return sessionize(
        ev,
        user_col="user_id",
        ts_col="ts_us",
        url_col="url",
        threshold=SESSION_THRESHOLD_US,
        order_tiebreak=("event_id",),
    )


_Q06_SQL = f"""
WITH RECURSIVE ev AS (
  SELECT user_id, epoch_us(ts) AS ts, event_type AS url,
         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
scan AS (
  SELECT user_id, 0 AS rn,
         CAST(NULL AS BIGINT) AS a_ts, CAST(NULL AS VARCHAR) AS a_url,
         CAST(NULL AS BIGINT) AS f_ts, CAST(NULL AS BIGINT) AS l_ts,
         CAST(NULL AS VARCHAR) AS f_url, CAST(NULL AS VARCHAR) AS l_url
  FROM (SELECT DISTINCT user_id FROM ev)
  UNION ALL
  SELECT e.user_id, e.rn,
         CASE WHEN e.ts - COALESCE(s.a_ts, e.ts) >= {SESSION_THRESHOLD_US}
              THEN NULL ELSE COALESCE(s.a_ts, e.ts) END,
         CASE WHEN e.ts - COALESCE(s.a_ts, e.ts) >= {SESSION_THRESHOLD_US}
              THEN NULL
              WHEN s.a_ts IS NULL THEN e.url ELSE s.a_url END,
         CASE WHEN e.ts - COALESCE(s.a_ts, e.ts) >= {SESSION_THRESHOLD_US}
              THEN COALESCE(s.a_ts, e.ts) END,
         CASE WHEN e.ts - COALESCE(s.a_ts, e.ts) >= {SESSION_THRESHOLD_US}
              THEN e.ts END,
         CASE WHEN e.ts - COALESCE(s.a_ts, e.ts) >= {SESSION_THRESHOLD_US}
              THEN COALESCE(s.a_url, e.url) END,
         CASE WHEN e.ts - COALESCE(s.a_ts, e.ts) >= {SESSION_THRESHOLD_US}
              THEN e.url END
  FROM scan s JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1
)
SELECT user_id, f_ts AS first_ts, l_ts AS last_ts,
       f_url AS first_url, l_url AS last_url
FROM scan WHERE f_ts IS NOT NULL
"""


# Q7 PageRank, 3 iterations, reference dangling rule (no damping).
# Graph: consecutive-lineitem part adjacency within each order, read
# off a lag window over a TOTAL per-order ordering ((l_linenumber,
# l_partkey) — linenumbers repeat in the synthetic data, so the
# tiebreak makes lag deterministic and identical in both engines).
# One hash shuffle on l_orderkey; the former self-join formulation
# shuffled the table twice and cross-multiplied duplicate linenumbers.
# The SQL twin of _lineitem_edges: each lineitem's part is linked from
# the previous line's part of the same order.  Oracles splice it after
# SELECT or SELECT DISTINCT.
_LINEITEM_EDGES_SQL = """src, l_partkey AS dst FROM (
    SELECT l_partkey,
           lag(l_partkey) OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_partkey) AS src
    FROM lineitem
  ) WHERE src IS NOT NULL AND src <> l_partkey"""


def _lineitem_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    # No .distinct() here (r11, guide §2.4): EVERY consumer dedups
    # internally — pagerank's directed distinct, the triangle family's
    # canonical distinct, and the undirected ops' canonical
    # both-orientations build (components._undirected_edges) — so a
    # distinct at this level was one redundant full exchange of the
    # edge relation in each of the nine graph queries.  The edge SET
    # each operator sees is unchanged.
    return (
        li.withColumn("src", F.lag("l_partkey").over(w))
        .where(F.col("src").isNotNull() & (F.col("src") != F.col("l_partkey")))
        .select("src", F.col("l_partkey").alias("dst"))
    )


def q07_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = pagerank(_lineitem_edges(spark, sf_dir), iterations=3)
    return ranks.select("vid", F.round(F.col("rank") * 1e6).cast("long").alias("rank_ppm"))


_Q07_SQL = f"""
WITH edges AS (
  SELECT DISTINCT {_LINEITEM_EDGES_SQL}
),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT src AS vid, 1.0 AS r FROM deg),
-- iteration 1: every r0 vertex has d > 0, so no dangling self-sends yet
c1 AS (
  SELECT e.dst AS vid, sum(r0.r / deg.d) AS c
  FROM r0 JOIN deg ON r0.vid = deg.src JOIN edges e ON e.src = r0.vid
  GROUP BY e.dst
),
v1 AS (SELECT vid FROM r0 UNION SELECT dst FROM edges),
r1 AS (
  SELECT v1.vid, COALESCE(c1.c, 0) AS r FROM v1 LEFT JOIN c1 ON v1.vid = c1.vid
),
-- iterations 2..3: vertex set stable; created vertices have no out-edges
c2 AS (
  SELECT vid, sum(c) AS c FROM (
    SELECT e.dst AS vid, r1.r / deg.d AS c
    FROM r1 JOIN deg ON r1.vid = deg.src JOIN edges e ON e.src = r1.vid
    UNION ALL
    SELECT r1.vid, r1.r FROM r1 LEFT JOIN deg ON r1.vid = deg.src WHERE deg.src IS NULL
  ) GROUP BY vid
),
r2 AS (
  SELECT v1.vid, COALESCE(c2.c, 0) AS r FROM v1 LEFT JOIN c2 ON v1.vid = c2.vid
),
c3 AS (
  SELECT vid, sum(c) AS c FROM (
    SELECT e.dst AS vid, r2.r / deg.d AS c
    FROM r2 JOIN deg ON r2.vid = deg.src JOIN edges e ON e.src = r2.vid
    UNION ALL
    SELECT r2.vid, r2.r FROM r2 LEFT JOIN deg ON r2.vid = deg.src WHERE deg.src IS NULL
  ) GROUP BY vid
),
r3 AS (
  SELECT v1.vid, COALESCE(c3.c, 0) AS r FROM v1 LEFT JOIN c3 ON v1.vid = c3.vid
)
SELECT vid, CAST(ROUND(r * 1000000) AS BIGINT) AS rank_ppm FROM r3
"""


# Q8 WEX-style link extraction (F3): regex extract-all + explode.
def q08_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.explode(F.regexp_extract_all("text", F.lit("[a-z]{6,}"), 0)).alias(
                "target"
            ),
        )
        .groupBy("doc_id", "target")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )


_Q08_SQL = """
SELECT doc_id, t AS target, CAST(count(*) AS BIGINT) AS n_mentions
FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{6,}')) AS t FROM documents)
GROUP BY doc_id, t
"""


# Q9 K-means assignment step (KMeansMapFunction argmin semantics):
# centers = embeddings vec_id 0..7 (deterministic seed centers).
def _seed_centers(spark: SparkSession, sf_dir: str, k: int = 8) -> list[list[float]]:
    rows = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < k)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    return [[float(x) for x in r["embedding"]] for r in rows]


def q09_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    centers = _seed_centers(spark, sf_dir)
    return assign_clusters(emb, "embedding", centers).select(
        "vec_id", F.col("cluster").cast("long").alias("cluster")
    )


_Q09_SQL = """
WITH c AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 8
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (
  SELECT e.vec_id, c.cid,
         list_sum(list_transform(range(1, len(v) + 1),
                                 i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS dist
  FROM e CROSS JOIN c
)
SELECT vec_id, CAST(cid AS BIGINT) AS cluster
FROM (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d)
WHERE rn = 1
"""


# Q10 Global aggregation (ZeroKey P4 + SumValues A2) — exact integer domains.
def q10_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents("l_quantity")).alias("qty_cents"),
        F.sum(cents("l_extendedprice")).alias("price_cents"),
        F.min(F.unix_micros("l_shipdate")).alias("min_ship_us"),
        F.max(F.unix_micros("l_shipdate")).alias("max_ship_us"),
    )


_Q10_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
       CAST(sum(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
       min(epoch_us(l_shipdate)) AS min_ship_us,
       max(epoch_us(l_shipdate)) AS max_ship_us
FROM lineitem
"""


# Q10b Length histogram (TupleLengthCounter A10 analog).
def q10b_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.floor(F.col("n_chars") / 100).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_Q10B_SQL = """
SELECT CAST(floor(n_chars / 100) AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS cnt
FROM documents GROUP BY 1
"""


# Q11 Duplicate keys (CountDuplicateKeysReduceFunction A4).
def q11_duplicate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
    )


_Q11_SQL = """
SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY user_id, event_type HAVING count(*) > 1
"""


# Q12 Merge pre-sorted streams (X5 + Merger O4): events + orders timeline.
def q12_merge_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        F.lit("E").alias("src"),
        F.col("event_id").alias("id"),
        F.unix_micros("ts").alias("ts_us"),
    )
    od = table(spark, sf_dir, "orders").select(
        F.lit("O").alias("src"),
        F.col("o_orderkey").alias("id"),
        F.unix_micros("o_orderdate").alias("ts_us"),
    )
    return merge_sorted([ev, od], ["ts_us", "src", "id"], rank_col="pos")


_Q12_SQL = """
WITH m AS (
  SELECT 'E' AS src, event_id AS id, epoch_us(ts) AS ts_us FROM events
  UNION ALL
  SELECT 'O' AS src, o_orderkey AS id, epoch_us(o_orderdate) AS ts_us FROM orders
)
SELECT src, id, ts_us,
       CAST(row_number() OVER (ORDER BY ts_us, src, id) AS BIGINT) AS pos
FROM m
"""


# Q13 Grep (GrepMapFunction P2 / loggrep P3): regex filter.
GREP_PATTERN = "table table"


def q13_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.where(F.col("text").rlike(GREP_PATTERN)).select(
        "doc_id", "n_chars"
    )


_Q13_SQL = f"""
SELECT doc_id, n_chars FROM documents WHERE regexp_matches(text, '{GREP_PATTERN}')
"""


# ------------------------------------------------------------- relational
# Q14 TPC-H Q1-style pricing summary (grouped multi-aggregate).
def q14_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    charge = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")) * 100
    ).cast("long")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(cents("l_quantity")).alias("sum_qty_cents"),
        F.sum(cents("l_extendedprice")).alias("sum_base_cents"),
        F.sum(disc).alias("sum_disc_cents"),
        F.sum(charge).alias("sum_charge_cents"),
        F.count(F.lit(1)).alias("count_order"),
    )


_Q14_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
       CAST(sum(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# Q15 Revenue by nation: 5-way join, dims broadcast by Catalyst.
def q15_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    na = table(spark, sf_dir, "nation")
    re = table(spark, sf_dir, "region")
    revenue = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(na, cu.c_nationkey == na.n_nationkey)
        .join(re, na.n_regionkey == re.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(revenue).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q15_SQL = """
SELECT r_name, n_name,
       CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# Q16 Top-k (O8): top 10 customers by order revenue, deterministic ties.
def q16_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    by_cust = od.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        by_cust.join(cu, by_cust.o_custkey == cu.c_custkey)
        .select(
            F.col("c_custkey").alias("custkey"), "c_name", "revenue_cents", "n_orders"
        )
        .orderBy(F.col("revenue_cents").desc(), F.col("custkey").asc())
        .limit(10)
    )


_Q16_SQL = """
SELECT c_custkey AS custkey, c_name,
       CAST(sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue_cents DESC, custkey ASC
LIMIT 10
"""


# -------------------------------------------------------- beyond-reference
# Q17 Exact dedup (hash-groupBy; A4 generalized to content hashes).
def q17_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return exact_duplicates(docs, "doc_id", "text")


_Q17_SQL = """
WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents)
SELECT doc_id, content_hash,
       min(doc_id) OVER (PARTITION BY content_hash) AS canonical_id,
       CAST(count(*) OVER (PARTITION BY content_hash) AS BIGINT) AS group_size
FROM h
QUALIFY group_size > 1
"""


# Q18 Exact n-gram Jaccard near-dup pairs via shared-shingle join.
def q18_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # Low threshold + tiny synthetic vocabulary: the brute shared-shingle
    # join beats prefix filtering here (prefix ~= half the set at t=0.6);
    # the bench variant exercises the prefix-filtered scale path at t=0.8.
    return jaccard_pairs(
        docs, "doc_id", "text", n=1, min_jaccard=0.6, prefix_filter=False
    )


_Q18_SQL = f"""
WITH s AS (
  SELECT doc_id AS doc, unnest(list_distinct({_TOK.format(col='text')})) AS shingle
  FROM documents
),
sz AS (SELECT doc, count(*) AS sz FROM s GROUP BY doc),
i AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(count(*) AS BIGINT) AS inter_size
  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b, inter_size,
       CAST(sa.sz + sb.sz - inter_size AS BIGINT) AS union_size
FROM i JOIN sz sa ON doc_a = sa.doc JOIN sz sb ON doc_b = sb.doc
WHERE inter_size >= 0.6 * (sa.sz + sb.sz - inter_size)
"""


# Q19 MinHash-LSH candidate pairs (banded signatures, md5 min-hash).
# The hot-bucket cap is ACTIVE at the oracle scales: the synthetic
# vocabulary is tiny, so unigram band buckets routinely exceed 64
# docs — the driver gate therefore proves the guarded semantics
# (oversized buckets dropped BEFORE the pair join), not just the
# uncapped demonstration.  Production near-dup uses n-gram shingles
# (bench) where the cap is a no-op on healthy data.
LSH_MAX_BUCKET = 64


def q19_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    buckets = minhash_band_buckets(
        docs, "doc_id", "text", n=1, num_hashes=16, bands=4
    )
    return lsh_candidate_pairs(buckets, max_bucket=LSH_MAX_BUCKET)


_Q19_SQL = f"""
WITH s AS (
  SELECT doc_id AS doc, unnest(list_distinct({_TOK.format(col='text')})) AS shingle
  FROM documents
),
hx AS (
  SELECT doc, (('0x' || substr(md5(shingle), 1, 15))::BIGINT) % 2147483647 AS x
  FROM s
),
comp AS (
  SELECT doc, i AS h, min(((2*i + 1) * x + 7919*i) % 2147483647) AS mh
  FROM hx CROSS JOIN (SELECT unnest(range(16)) AS i)
  GROUP BY doc, i
),
band0 AS (
  SELECT doc, h // 4 AS band,
         md5(string_agg(lpad(h::VARCHAR, 2, '0') || ':' || mh::VARCHAR, '|' ORDER BY h)) AS band_sig
  FROM comp GROUP BY doc, h // 4
),
band AS (
  SELECT doc, band, band_sig FROM (
    SELECT *, count(*) OVER (PARTITION BY band, band_sig) AS bsz
    FROM band0
  ) WHERE bsz <= {LSH_MAX_BUCKET}
)
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
FROM band a JOIN band b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc < b.doc
"""


# Q20 ANN: brute-force cosine top-k (exhaustive baseline; IVF variant
# in operators.similarity is the approximate scale path).  Ranks order
# by the engine-exact micro-quantized cos_ppm — see
# functions/vectors.py icos_ppm.
def q20_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return brute_force_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=10
    )


_Q20_SQL = f"""
WITH {_EMB_MICRO_CTE},
qs AS (SELECT vec_id AS query_id, q AS qq, nn AS qn FROM nz WHERE vec_id < 5),
s AS (
  SELECT qs.query_id, c.vec_id AS neighbor_id,
         {_ICOS_PPM_SQL.format(a='c.q', b='qs.qq', na='c.nn', nb='qs.qn')} AS cos_ppm
  FROM nz c CROSS JOIN qs
  WHERE c.vec_id <> qs.query_id
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, neighbor_id ASC) AS rnk
  FROM s
)
WHERE rnk <= 10
"""


# Q21 Text quality features.
def q21_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return text_quality(docs, "doc_id", "text")


_STOPLIST_SQL = "[" + ", ".join(f"'{w}'" for w in STOP_WORDS) + "]"

_Q21_SQL = f"""
WITH t AS (SELECT doc_id, text, {_TOK.format(col='text')} AS toks FROM documents),
f AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         length(text) AS n_chars,
         len(list_filter(list_distinct(toks), w -> list_contains({_STOPLIST_SQL}, w))) AS n_stop,
         COALESCE(list_sum(list_transform(toks, w -> length(w))), 0) AS tok_chars
  FROM t
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_stop AS BIGINT) AS n_stop,
       CAST(CASE WHEN n_tokens > 0 THEN floor(tok_chars * 100 / n_tokens) ELSE 0 END AS BIGINT) AS mean_token_len_x100,
       CAST(least(100, greatest(0,
            least(n_tokens, 40)
            + least(CASE WHEN n_tokens > 0 THEN floor(n_stop * 100 / n_tokens) ELSE 0 END, 30) * 2
       )) AS BIGINT) AS quality_pct
FROM f
"""


# Q22 Heuristic language ID.
def q22_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return lang_id(docs, "doc_id", "text")


def _lang_hits_sql(lang: str) -> str:
    words = "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"
    return (
        f"len(list_filter(list_distinct(toks), w -> list_contains({words}, w)))"
        f" AS h_{lang}"
    )


_Q22_SQL = f"""
WITH t AS (SELECT doc_id, {_TOK.format(col='lower(text)')} AS toks FROM documents),
hits AS (
  SELECT doc_id, {', '.join(_lang_hits_sql(lang) for lang in sorted(LANG_MARKERS))}
  FROM t
),
unp AS (
  {' UNION ALL '.join(f"SELECT doc_id, '{lang}' AS lang, h_{lang} AS hits FROM hits" for lang in sorted(LANG_MARKERS))}
)
SELECT doc_id, lang AS pred_lang, CAST(hits AS BIGINT) AS best_hits
FROM (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
  FROM unp
)
WHERE rn = 1
"""


# Q23 Document fingerprints.
def q23_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return doc_fingerprints(docs, "doc_id", "text")


_Q23_SQL = f"""
SELECT doc_id,
       md5(array_to_string({_TOK.format(col='lower(text)')}, ' ')) AS fp
FROM documents
"""


# Q24 Window functions: per-user running stats over the event stream.
def q24_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), cents("value").alias("v_cents")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.coalesce(
            F.col("ts_us") - F.lag("ts_us").over(w), F.lit(-1)
        ).alias("gap_us"),
        F.sum("v_cents").over(w).alias("run_v_cents"),
    )


_Q24_SQL = """
SELECT user_id, event_id,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       COALESCE(epoch_us(ts) - lag(epoch_us(ts)) OVER w, -1) AS gap_us,
       CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT) AS run_v_cents
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# Q25 Anti join: customers with no orders.
def q25_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer")
    od = table(spark, sf_dir, "orders")
    return cu.join(
        od, cu.c_custkey == od.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


_Q25_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# Q26 Distinct aggregate: unique users + event counts per event type.
def q26_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


_Q26_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


# Q27 Semi join: parts that actually ship, counted per brand.
def q27_parts_shipped_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    pa = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    return (
        pa.join(li, pa.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


_Q27_SQL = """
SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts
FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
GROUP BY p_brand
"""


# Q28 JSON extraction (events.props = {"k": int}).
def q28_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select(F.col("event_type"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_Q28_SQL = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
"""


# Q32 Correlated aggregate: parts priced above their type's average.
def q32_above_avg_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pa = table(spark, sf_dir, "part")
    avg_by_type = pa.groupBy("p_type").agg(
        F.avg("p_retailprice").alias("__avg")
    )
    return (
        pa.join(avg_by_type, "p_type")
        .where(F.col("p_retailprice") > F.col("__avg"))
        .select("p_partkey", "p_type", cents("p_retailprice").alias("price_cents"))
    )


_Q32_SQL = """
SELECT p_partkey, p_type, CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents
FROM part p
WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part q WHERE q.p_type = p.p_type)
"""


# Q33 Conditional semi-join (TPC-H Q4 shape): orders with any lineitem
# shipped > 90 days after the order date, counted by priority.
def q33_late_ship_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    late = od.join(
        li,
        (od.o_orderkey == li.l_orderkey)
        & (F.unix_micros(li.l_shipdate)
           > F.unix_micros(od.o_orderdate) + 90 * 86400 * 1_000_000),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


_Q33_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND epoch_us(l_shipdate) > epoch_us(o_orderdate) + 7776000000000
)
GROUP BY o_orderpriority
"""


# Q34 Revenue share per region-year in exact ppm (integer division —
# no float ratio, hash-stable).
def q34_region_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    na = table(spark, sf_dir, "nation")
    re = table(spark, sf_dir, "region")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    per = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(na, cu.c_nationkey == na.n_nationkey)
        .join(re, na.n_regionkey == re.r_regionkey)
        .groupBy(F.year("o_orderdate").alias("yr"), F.col("r_name"))
        .agg(F.sum(rev).alias("rev_cents"))
    )
    w = Window.partitionBy("yr")
    return (
        per.withColumn("__tot", F.sum("rev_cents").over(w))
        # integer `div` keeps the share exact (no float ratio to
        # round differently across engines)
        .select(
            "yr",
            "r_name",
            "rev_cents",
            F.expr("rev_cents * 1000000 div __tot").alias("share_ppm"),
        )
    )


_Q34_SQL = """
WITH per AS (
  SELECT year(o_orderdate) AS yr, r_name,
         CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT yr, r_name, rev_cents,
       CAST(rev_cents * 1000000 // sum(rev_cents) OVER (PARTITION BY yr) AS BIGINT) AS share_ppm
FROM per
"""


# Q35 Rollup (hierarchical subtotals — beyond the reference's flat
# groupBy; Catalyst expands to grouping sets in one pass).
def q35_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    na = table(spark, sf_dir, "nation")
    re = table(spark, sf_dir, "region")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(na, cu.c_nationkey == na.n_nationkey)
        .join(re, na.n_regionkey == re.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.sum(rev).alias("rev_cents"))
    )


_Q35_SQL = """
SELECT r_name, n_name,
       CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# Q36 As-of join (beyond-reference: no join operator exists in the
# reference at all): every event gains the user's most recent purchase
# at-or-before it.  Single-shuffle union+window merge-scan formulation —
# see operators/temporal.py.
def q36_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import asof_join

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "event_type"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        # unique per (user, ts) by construction; max() makes tie-handling
        # explicit anyway so oracle and engine agree even if data changes
        .groupBy("user_id", F.col("ts_us").alias("p_ts_us"))
        .agg(F.max("event_id").alias("last_purchase_id"))
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts_us"),
        purchases,
        key="user_id",
        left_ts="ts_us",
        right_ts="p_ts_us",
        right_cols=["last_purchase_id"],
    )
    return out.select("event_id", "user_id", "ts_us", "last_purchase_id", "asof_ts")


_Q36_SQL = """
WITH p AS (
  SELECT user_id, epoch_us(ts) AS p_ts_us, max(event_id) AS last_purchase_id
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
       p.last_purchase_id, p.p_ts_us AS asof_ts
FROM events e ASOF LEFT JOIN p
  ON e.user_id = p.user_id AND epoch_us(e.ts) >= p.p_ts_us
"""


# Q37 Range (interval) join: per order, how many other orders the same
# customer placed within the following 30 days.  Bucketed formulation —
# see operators/temporal.py.
RANGE_WINDOW_US = 30 * 86400 * 1_000_000


def q37_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import range_join_bucketed

    od = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.unix_micros("o_orderdate").alias("od_us")
    )
    points = od.select(
        F.col("o_orderkey").alias("p_orderkey"), "o_custkey", F.col("od_us").alias("p_ts")
    )
    intervals = od.select(
        "o_orderkey",
        "o_custkey",
        F.col("od_us").alias("lo"),
        (F.col("od_us") + RANGE_WINDOW_US).alias("hi"),
    )
    joined = range_join_bucketed(
        points, intervals, key="o_custkey", left_ts="p_ts",
        right_lo="lo", right_hi="hi", bucket=RANGE_WINDOW_US,
    )
    return (
        joined.where(F.col("p_orderkey") != F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_followups"))
    )


_Q37_SQL = f"""
SELECT r.o_orderkey, CAST(count(*) AS BIGINT) AS n_followups
FROM orders r JOIN orders l ON l.o_custkey = r.o_custkey
 AND l.o_orderkey <> r.o_orderkey
 AND epoch_us(l.o_orderdate) >= epoch_us(r.o_orderdate)
 AND epoch_us(l.o_orderdate) < epoch_us(r.o_orderdate) + {RANGE_WINDOW_US}
GROUP BY r.o_orderkey
"""


# Q38 Embedding-cosine near-duplicate pairs (exhaustive baseline; the
# hyperplane-LSH variant q39 is the approximate scale path).  The
# threshold applies to the engine-exact integer cos_ppm, so boundary
# pairs cannot flip across engines.
NEARDUP_COS = 0.40


def q38_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import cosine_neardup_pairs

    emb = table(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(emb, "vec_id", "embedding", threshold=NEARDUP_COS)


_Q38_SQL = f"""
WITH {_EMB_MICRO_CTE},
s AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_ICOS_PPM_SQL.format(a='a.q', b='b.q', na='a.nn', nb='b.nn')} AS cos_ppm
  FROM nz a JOIN nz b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_ppm
FROM s WHERE cos_ppm >= {int(round(NEARDUP_COS * 1e6))}
"""


# Q41 Token-budget estimators (whitespace words + BPE-ish pieces).
def q41_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import token_counts

    docs = table(spark, sf_dir, "documents")
    return token_counts(docs, "doc_id", "text")


_Q41_SQL = """
WITH c AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[^ ]+')) AS ws,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe
  FROM documents
)
SELECT doc_id,
       CAST(ws AS BIGINT) AS n_ws_tokens,
       CAST(bpe AS BIGINT) AS n_bpe_tokens,
       CAST(CASE WHEN ws > 0 THEN bpe * 100 // ws ELSE 0 END AS BIGINT) AS bpe_per_100_ws
FROM c
"""


# Q44 Skew-salted aggregation under the oracle gate: the two-stage
# salted count must produce byte-identical results to a plain GROUP BY
# (salting is physical, not semantic).  user_id is the skewed-ish key
# (150 users x ~67 events at sf0.01).
def q44_salted_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skew import salted_count

    ev = table(spark, sf_dir, "events")
    return salted_count(ev, ["user_id"], salt_buckets=16, count_col="cnt")


_Q44_SQL = """
SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
"""


# Q43 Corpus curation pipeline end-to-end: language filter + quality
# floor + exact-dedup keep-canonical, composed from the q17/q21/q22
# operators — the selection a training-data pipeline actually ships.
def q43_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-scan form (same shape as q77): one checkpointed (doc_id, text)
    # base feeds the chained per-row signals AND the dedup groupBy.

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )
    scored = text_quality(docs, "doc_id", "text", keep=("text",)).select(
        "doc_id", "text", "n_tokens", "quality_pct"
    )
    scored = lang_id(scored, "doc_id", "text", keep=("n_tokens", "quality_pct"))
    # exact_duplicates lists only docs in dup groups; keep a doc unless
    # it is a non-canonical member of such a group
    dupes = exact_duplicates(docs, "doc_id", "text").where(
        F.col("doc_id") != F.col("canonical_id")
    ).select("doc_id")
    return (
        scored.join(dupes, "doc_id", "left_anti")
        .where((F.col("pred_lang") == "en") & (F.col("quality_pct") >= 40))
        .select("doc_id", "n_tokens", "quality_pct", "pred_lang")
    )


_Q43_SQL = f"""
WITH q AS ({_Q21_SQL}),
l AS ({_Q22_SQL}),
h AS (SELECT doc_id, md5(text) AS ch FROM documents),
dupes AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY ch) AS canon,
           count(*) OVER (PARTITION BY ch) AS gs
    FROM h
  ) WHERE gs > 1 AND doc_id <> canon
)
SELECT q.doc_id, q.n_tokens, q.quality_pct, l.pred_lang
FROM q JOIN l ON q.doc_id = l.doc_id
WHERE q.doc_id NOT IN (SELECT doc_id FROM dupes)
  AND l.pred_lang = 'en' AND q.quality_pct >= 40
"""


# Q48 Shipping-priority top-10 (TPC-H Q3 shape): segment-filtered
# customer ⋈ orders ⋈ lineitem, revenue per order, top 10.  Exercises
# broadcast-filtered dimension + two fact joins + TakeOrderedAndProject.
def q48_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == F.lit("BUILDING")
    )
    od = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        cu.join(od, cu.c_custkey == od.o_custkey)
        .join(li, od.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", F.unix_micros("o_orderdate").alias("odate_us"), "o_orderpriority")
        .agg(F.sum(rev).alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


_Q48_SQL = """
SELECT o_orderkey, epoch_us(o_orderdate) AS odate_us, o_orderpriority,
       CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY o_orderkey, epoch_us(o_orderdate), o_orderpriority
ORDER BY revenue_cents DESC, o_orderkey ASC
LIMIT 10
"""


# Q47 Textbook gap-based sessionization (the inactivity rule — distinct
# from the reference's anchor-reset rule in q06): a session breaks when
# the gap since the PREVIOUS event reaches the threshold.  Pure window
# functions (lag -> boundary flag -> running session counter), one
# shuffle on the user key.
def q47_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.withColumn(
        "__new",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) >= SESSION_THRESHOLD_US, 1
        ).otherwise(0),
    ).withColumn("session_seq", F.sum("__new").over(w).cast("long"))
    return flagged.groupBy("user_id", "session_seq").agg(
        F.min("ts_us").alias("first_ts"),
        F.max("ts_us").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


_Q47_SQL = f"""
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {SESSION_THRESHOLD_US}
              THEN 1 ELSE 0 END AS nw
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
seq AS (
  SELECT user_id, ts_us,
         CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       min(ts_us) AS first_ts, max(ts_us) AS last_ts,
       CAST(count(*) AS BIGINT) AS n_events
FROM seq GROUP BY user_id, session_seq
"""


# Q46 Near-dup clustering: MinHash-LSH candidate pairs (the q19 edge
# set) grouped into duplicate clusters by connected components, each
# labeled with its canonical (minimum) doc id.  Iterative min-label
# propagation in Spark; the DuckDB oracle computes the same fixpoint
# with a recursive CTE over the identical pair set.
def q46_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.components import dedup_clusters

    docs = table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        minhash_band_buckets(docs, "doc_id", "text", n=1, num_hashes=16, bands=4),
        max_bucket=LSH_MAX_BUCKET,
    )
    return dedup_clusters(pairs, id_a="doc_a", id_b="doc_b")


_Q46_SQL = f"""
WITH RECURSIVE pairs AS ({_Q19_SQL}),
eu AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
v AS (SELECT DISTINCT src AS vid FROM eu),
r AS (
  SELECT vid, vid AS label FROM v
  UNION
  SELECT e.dst AS vid, r.label FROM r JOIN eu e ON e.src = r.vid
)
SELECT vid, CAST(min(label) AS BIGINT) AS canonical_id
FROM r GROUP BY vid
"""


# Q45 Hypertable-style time rollup: hierarchical day -> hour ->
# event_type continuous-aggregate in ONE pass (Catalyst expands the
# rollup to grouping sets with partial aggregation — the timeseries-DB
# "continuous aggregate" materialization, computed declaratively).
def q45_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        F.unix_micros(F.date_trunc("day", "ts")).alias("day_us"),
        F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us"),
        "event_type",
        cents("value").alias("__c"),
    )
    return ev.rollup("day_us", "hour_us", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__c").alias("v_cents"),
    )


_Q45_SQL = """
SELECT epoch_us(date_trunc('day', ts)) AS day_us,
       epoch_us(date_trunc('hour', ts)) AS hour_us,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
FROM events
GROUP BY ROLLUP (day_us, hour_us, event_type)
"""


# Q42 Exact distribution quantiles per group (the declarative analog of
# the reference's phase-0 boundary estimation, BoundaryDecider O6 —
# there sampled medians pick partition boundaries; here percentile_disc
# computes them exactly).  Discrete quantiles return actual data values
# (integers) so the cross-engine compare is hash-stable.
def q42_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.select("event_type", cents("value").alias("__c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __c)")
            .cast("long")
            .alias("p50_cents"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY __c)")
            .cast("long")
            .alias("p90_cents"),
        )
    )


_Q42_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(quantile_disc(CAST(ROUND(value * 100) AS BIGINT), 0.5) AS BIGINT) AS p50_cents,
       CAST(quantile_disc(CAST(ROUND(value * 100) AS BIGINT), 0.9) AS BIGINT) AS p90_cents
FROM events GROUP BY event_type
"""


# Q40 Nation market summary: two fact-side aggregates (supplier,
# customer) joined to the same dimension — covers the one testdata
# table (supplier) no other query touches.
def q40_nation_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    su = table(spark, sf_dir, "supplier")
    cu = table(spark, sf_dir, "customer")
    na = table(spark, sf_dir, "nation")
    s_agg = su.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(cents("s_acctbal")).alias("supp_bal_cents"),
    )
    c_agg = cu.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_customers"))
    return (
        na.join(s_agg, na.n_nationkey == s_agg.s_nationkey, "left")
        .join(c_agg, na.n_nationkey == c_agg.c_nationkey, "left")
        .select(
            "n_name",
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            F.coalesce("supp_bal_cents", F.lit(0)).alias("supp_bal_cents"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        )
    )


_Q40_SQL = """
WITH s AS (
  SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS supp_bal_cents
  FROM supplier GROUP BY 1
),
c AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers FROM customer GROUP BY 1)
SELECT n_name,
       COALESCE(n_suppliers, 0) AS n_suppliers,
       COALESCE(supp_bal_cents, 0) AS supp_bal_cents,
       COALESCE(n_customers, 0) AS n_customers
FROM nation
LEFT JOIN s ON n_nationkey = s_nationkey
LEFT JOIN c ON n_nationkey = c_nationkey
"""


# Q39 Sign-LSH near-dup (approximate — recall < 1 by design; rows-only).
def q39_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import hyperplane_lsh_neardup

    emb = table(spark, sf_dir, "embeddings")
    return hyperplane_lsh_neardup(
        emb, "vec_id", "embedding", threshold=NEARDUP_COS, dim=64,
        n_planes=16, bands=8,
    )


# Q39 oracle: the exact near-dup pair set (same SQL as q38).  Sign-LSH
# candidates are verified with the SAME engine-exact integer cosine as
# q38 (micro-quantized integer cosine: the Arrow integer kernel is
# bit-identical to the JVM icos_ppm fold), so the output
# is a subset of the exact pairs with identical cos_ppm values; the
# configured signature (16 planes, 8 bands of 2 bits) recovers every
# >=400000-ppm pair of this corpus (hyperplanes are seeded, so recall
# is a deterministic property of the data, asserted by the gate itself
# — a miss would show up as a row diff).
# tests/test_temporal_similarity.py keeps the generic
# subset+recall-floor guard for configurations where recall < 1.
_Q39_SQL = _Q38_SQL


# Q29 Full Lloyd k-means (5 iterations).  The oracle unrolls the loop
# in SQL exactly like the pagerank oracle unrolls its iterations: seed
# centers are deterministic (embeddings vec_id < 8), each iteration is
# an argmin assignment + per-dimension means CTE pair, empty clusters
# keep the previous center (kmeans.lloyd semantics).
def q29_kmeans_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.kmeans import lloyd

    emb = table(spark, sf_dir, "embeddings")
    assigned, _ = lloyd(
        emb, "embedding", k=8, iterations=5,
        initial_centers=_seed_centers(spark, sf_dir),
    )
    return assigned.select("vec_id", F.col("cluster").cast("long").alias("cluster"))


def _kmeans_unrolled_sql(k: int = 8, iterations: int = 5) -> str:
    """DuckDB SQL mirroring kmeans.lloyd: a CTE chain of
    (assign, means, centers) triples.  Distances use the same
    sequential list_sum fold as _Q09_SQL; means average the double-cast
    vectors per cluster per dimension."""
    dist = (
        "list_sum(list_transform(range(1, len(e.v) + 1), "
        "i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))"
    )
    parts = [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv "
        f"FROM embeddings WHERE vec_id < {k})",
        "dims AS (SELECT unnest(range(1, len(v) + 1)) AS i "
        "FROM (SELECT v FROM e ORDER BY vec_id LIMIT 1))",
    ]
    for t in range(1, iterations + 1):
        parts.append(
            f"a{t} AS (SELECT vec_id, v, cid AS cluster FROM ("
            f"SELECT e.vec_id, e.v, c.cid, row_number() OVER ("
            f"PARTITION BY e.vec_id ORDER BY {dist}, c.cid) AS rn "
            f"FROM e CROSS JOIN c{t - 1} c) WHERE rn = 1)"
        )
        parts.append(
            f"m{t} AS (SELECT cluster, list(m ORDER BY i) AS mv FROM ("
            f"SELECT a.cluster, dims.i, avg(a.v[dims.i]) AS m "
            f"FROM a{t} a CROSS JOIN dims GROUP BY 1, 2) GROUP BY cluster)"
        )
        parts.append(
            f"c{t} AS (SELECT p.cid, coalesce(m.mv, p.cv) AS cv "
            f"FROM c{t - 1} p LEFT JOIN m{t} m ON p.cid = m.cluster)"
        )
    final = (
        f"SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM ("
        f"SELECT e.vec_id, c.cid AS cluster, row_number() OVER ("
        f"PARTITION BY e.vec_id ORDER BY {dist}, c.cid) AS rn "
        f"FROM e CROSS JOIN c{iterations} c) WHERE rn = 1"
    )
    return ",\n".join(parts) + "\n" + final


_Q29_SQL = _kmeans_unrolled_sql(k=8, iterations=5)


# Q30 SimHash fingerprints (md5-derived 60-bit token hashes, so the
# exact fingerprint integers are oracle-reproducible).
def q30_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash64

    docs = table(spark, sf_dir, "documents")
    return simhash64(docs, "doc_id", "text")


_Q30_SQL = f"""
WITH tok AS (
  SELECT doc_id AS doc, unnest({_TOK.format(col='text')}) AS w FROM documents
),
hashed AS (
  SELECT doc, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hh FROM tok
),
bits AS (
  SELECT doc, b,
         sum(CASE WHEN (hh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed CROSS JOIN (SELECT unnest(range(60)) AS b)
  GROUP BY doc, b
)
SELECT doc, CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc
"""


# Q31 IVF approximate ANN.  Recall < 1 vs exact search by design, but
# the computation itself is fully deterministic (fixed codebook =
# vec_id < 8 seed vectors, nprobe = 3), so the oracle replays it
# exactly: assign every corpus vector to its nearest centroid, probe
# each query's 3 nearest cells, exact cosine top-10 within the probed
# union.
def q31_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ivf_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return ivf_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=10,
        centroids=_seed_centers(spark, sf_dir), nprobe=3,
    )


_Q31_SQL = f"""
WITH {_EMB_MICRO_CTE},
c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 8),
cells AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, len(e.v) + 1),
                      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cid) AS rn
    FROM e CROSS JOIN c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
probed AS (
  SELECT query_id, cid AS cell FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_sum(list_transform(range(1, len(q.qv) + 1),
                      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))), c.cid) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= 3
),
s AS (
  SELECT p.query_id, s.vec_id AS neighbor_id,
         {_ICOS_PPM_SQL.format(a='cz.q', b='qz.q', na='cz.nn', nb='qz.nn')} AS cos_ppm
  FROM probed p
  JOIN cells s ON p.cell = s.cell
  JOIN nz cz ON cz.vec_id = s.vec_id
  JOIN nz qz ON qz.vec_id = p.query_id
  WHERE s.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, neighbor_id ASC) AS rnk
  FROM s
)
WHERE rnk <= 10
"""


# Q49 Deterministic stratified sample: at most k docs per language,
# chosen by md5(doc_id) order — reproducible across engines and reruns.
def q49_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import stratified_topk_sample

    docs = table(spark, sf_dir, "documents")
    return stratified_topk_sample(docs, "lang", "doc_id", k=25).select(
        "doc_id", "lang"
    )


_Q49_SQL = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= 25
"""


# Q50 Training-mixture rate sampling: per-language keep rates applied as
# a stateless map-side hash predicate (no shuffle, no RNG state).
MIXTURE_RATES = {"en": 0.9, "fr": 0.5, "de": 0.25, "zh": 0.1}


def q50_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import hash_rate_sample

    docs = table(spark, sf_dir, "documents")
    return hash_rate_sample(
        docs, "doc_id", rates=MIXTURE_RATES, group_col="lang"
    ).select("doc_id", "lang", "source")


_Q50_SQL = """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS b
  FROM documents
) WHERE b < CASE lang WHEN 'en' THEN 900000 WHEN 'fr' THEN 500000
                      WHEN 'de' THEN 250000 WHEN 'zh' THEN 100000 END
"""


# Q51 Context-window chunking: 64-token chunks, 8-token overlap —
# map-side generator expression, one tokenizer pass per doc.
def q51_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import chunk_documents

    docs = table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=8)


_Q51_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOK.format(col='text')} AS t FROM documents
),
nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
starts AS (
  SELECT doc_id, t, n,
         unnest(generate_series(1, greatest(n - 8, 1), 56)) AS s
  FROM nz
)
SELECT doc_id,
       CAST((s - 1) // 56 AS BIGINT) AS chunk_idx,
       CAST(len(t[s:s+63]) AS BIGINT) AS n_chunk_tokens,
       array_to_string(t[s:s+63], ' ') AS chunk_text
FROM starts
"""


# Q52 Correlated aggregate across tables (TPC-H Q17 shape): revenue
# from lineitems whose quantity is below 20% of the part's average.
# Spark form: the correlated scalar subquery becomes a per-part
# aggregate joined back to lineitem.  The agg output is ~|parts| rows
# (2 narrow columns), orders of magnitude smaller than lineitem, so at
# sf0.001 AQE broadcasts it; at 100 TB it still fits executor memory
# long before lineitem does, keeping the join one-sided — lineitem
# itself is never shuffled for the join.
def q52_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    thresh = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("__thresh")
    )
    return (
        li.join(thresh, "l_partkey")
        .where(F.col("l_quantity") < F.col("__thresh"))
        .groupBy()
        .agg(
            F.sum(cents("l_extendedprice")).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q52_SQL = """
SELECT CAST(sum(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
                    FROM lineitem q WHERE q.l_partkey = l.l_partkey)
"""


# Q53 Outer-join double aggregation (TPC-H Q13 shape): distribution of
# customers by order count, INCLUDING zero-order customers (the outer
# join is load-bearing — a semi join would drop them).
def q53_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer")
    od = table(spark, sf_dir, "orders")
    per_cust = (
        cu.join(od, cu.c_custkey == od.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("custdist")
    )


_Q53_SQL = """
SELECT n_orders, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY n_orders
"""


# Q54 Set-operation semantics (INTERSECT / EXCEPT — absent from the
# reference, SURVEY §2 "no set operations"): customer retention
# cohorts between two order years.  The literal intersect/subtract
# formulation scans orders 6× and shuffles 3×; at 100 TB the right
# plan is this fused conditional aggregate — ONE scan (year-pruned)
# and ONE shuffle on custkey, classifying each customer from per-year
# presence flags.  tests/test_operators.py asserts the fused form
# equals the intersect/subtract form (which stays the API-coverage
# witness for DataFrame.intersect/subtract).
def q54_yearly_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders")
    flags = (
        od.withColumn("y", F.year("o_orderdate"))
        .where(F.col("y").isin(1995, 1996))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("y") == 1995).alias("__in_a"),
            F.max(F.col("y") == 1996).alias("__in_b"),
        )
    )
    return flags.select(
        F.when(F.col("__in_a") & F.col("__in_b"), "both")
        .when(F.col("__in_a"), "only_1995")
        .otherwise("only_1996")
        .alias("cohort"),
        "custkey",
    )


_Q54_SQL = """
WITH a AS (SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995),
     b AS (SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT 'both' AS cohort, custkey
FROM (SELECT custkey FROM a INTERSECT SELECT custkey FROM b)
UNION ALL
SELECT 'only_1995' AS cohort, custkey
FROM (SELECT custkey FROM a EXCEPT SELECT custkey FROM b)
UNION ALL
SELECT 'only_1996' AS cohort, custkey
FROM (SELECT custkey FROM b EXCEPT SELECT custkey FROM a)
"""


# Q55 Pivot / conditional aggregation: yearly revenue pivoted across
# return flags.  The explicit values list ["A","N","R"] matters at
# scale — without it Spark runs an extra distinct-values job over the
# full table before it can even plan the pivot.
def q55_returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    pivoted = (
        li.withColumn("ship_year", F.year("l_shipdate"))
        .groupBy("ship_year")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(cents("l_extendedprice")))
    )
    return pivoted.select(
        "ship_year",
        F.coalesce("A", F.lit(0)).alias("rev_a_cents"),
        F.coalesce("N", F.lit(0)).alias("rev_n_cents"),
        F.coalesce("R", F.lit(0)).alias("rev_r_cents"),
    )


_Q55_SQL = """
SELECT year(l_shipdate) AS ship_year,
       CAST(coalesce(sum(CASE WHEN l_returnflag = 'A'
                 THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT) END), 0) AS BIGINT) AS rev_a_cents,
       CAST(coalesce(sum(CASE WHEN l_returnflag = 'N'
                 THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT) END), 0) AS BIGINT) AS rev_n_cents,
       CAST(coalesce(sum(CASE WHEN l_returnflag = 'R'
                 THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT) END), 0) AS BIGINT) AS rev_r_cents
FROM lineitem
GROUP BY year(l_shipdate)
"""


# Q56 RANGE-frame window (value-based, not row-based): rolling 1-hour
# per-user event stats.  A RANGE frame over epoch-micros is the
# declarative form of a time-based sliding window — same single
# hash-shuffle on user_id as q24's ROWS frames, but frame membership
# is decided by timestamp arithmetic, so tied timestamps share one
# frame (deterministic under ties, unlike a ROWS spec).
def q56_rolling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    hour_us = 3_600 * 1_000_000
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        cents("value").alias("v_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-hour_us, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts_us",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("v_cents").over(w).alias("v_1h_cents"),
    )


_Q56_SQL = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT) AS v_1h_cents
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


# Q57 CUBE grouping sets: revenue by (ship_year, returnflag) plus all
# three marginal totals in ONE aggregation pass — Spark expands the
# grouping sets before the shuffle, so it stays a single Exchange
# rather than 4 unioned groupBys.
def q57_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.withColumn("ship_year", F.year("l_shipdate"))
        .cube("ship_year", "l_returnflag")
        .agg(
            F.sum(cents("l_extendedprice")).alias("rev_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q57_SQL = """
SELECT year(l_shipdate) AS ship_year, l_returnflag,
       CAST(sum(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
GROUP BY CUBE (year(l_shipdate), l_returnflag)
"""


# Q58 Repetition filtering (Gopher-style): per-doc duplicate-trigram
# fraction + top-bigram share, exact ppm.  The dup fraction is pure
# map-side array math; only the top-gram share shuffles (partial-agged
# (doc, gram) counts).
def q58_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import repetition_stats

    docs = table(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text")


_Q58_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOK.format(col='text')} AS t FROM documents),
base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         list_transform(range(1, greatest(len(t) - 1, 1)),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS dg,
         list_transform(range(1, greatest(len(t), 1)),
                        i -> t[i] || ' ' || t[i+1]) AS tg
  FROM toks
),
map_side AS (
  SELECT doc_id, n_tokens, tg,
         CASE WHEN len(dg) > 0
              THEN 1000000 * (len(dg) - len(list_distinct(dg))) // len(dg)
              ELSE 0 END AS dup_ngram_ppm
  FROM base
),
counts AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest(tg) AS g FROM base)
  GROUP BY doc_id, g
),
top AS (SELECT doc_id, max(c) AS topc, sum(c) AS tot FROM counts GROUP BY doc_id)
SELECT m.doc_id, m.n_tokens,
       CAST(m.dup_ngram_ppm AS BIGINT) AS dup_ngram_ppm,
       CAST(COALESCE(1000000 * t.topc // t.tot, 0) AS BIGINT) AS top_ngram_ppm
FROM map_side m LEFT JOIN top t ON m.doc_id = t.doc_id
"""


# Q59 Benchmark decontamination: train docs (doc_id % 100 != 0) that
# share any distinct word 4-gram with the held-out eval split
# (doc_id % 100 == 0); the eval shingle set is broadcast so the corpus
# scan never shuffles before the per-doc count.  (Published pipelines
# use 8-13-grams — the operator's default is 8 — but the synthetic
# vocabulary is so small that only n<=4 produces any overlap to
# verify against.)
def q59_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import contamination

    docs = table(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 100 == 0)
    tr = docs.where(F.col("doc_id") % 100 != 0)
    return contamination(tr, ev, "doc_id", "text", n=4)


_Q59_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOK.format(col='text')} AS t FROM documents),
g4 AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 1)),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS g
  FROM toks
),
ev AS (SELECT DISTINCT g FROM g4 WHERE doc_id % 100 = 0),
tr AS (SELECT doc_id, g FROM g4 WHERE doc_id % 100 <> 0)
SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared_ngrams
FROM tr JOIN ev USING (g)
GROUP BY tr.doc_id
"""


# Q60 Vocabulary encoding: build the top-16 token vocab (count-desc,
# word-asc dense ids; 0 = unknown), then encode every document as its
# id sequence.  The vocab broadcasts; the token stream regroups by doc
# in one shuffle.  ids_str is the space-joined sequence so the compare
# is array-normalization-proof.
def q60_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import build_vocab, encode_tokens

    docs = table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", 16)
    return encode_tokens(docs, "doc_id", "text", vocab)


_Q60_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOK.format(col='text')} AS t FROM documents),
counts AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
),
vocab AS (
  SELECT w, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS wid
  FROM counts ORDER BY c DESC, w LIMIT 16
),
pos AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS p, t FROM toks),
enc AS (
  SELECT x.doc_id, x.p, COALESCE(v.wid, 0) AS wid
  FROM (SELECT doc_id, p, t[p] AS w FROM pos) x
  LEFT JOIN vocab v USING (w)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE wid = 0) AS BIGINT) AS n_unk,
       string_agg(wid::VARCHAR, ' ' ORDER BY p) AS ids_str
FROM enc GROUP BY doc_id
"""


# Q61 Train/validation/test split: deterministic md5-bucket assignment
# (90/5/5), rolled up per split.  Map-side assignment; one tiny
# 3-group aggregate.
def q61_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import split_assign

    docs = table(spark, sf_dir, "documents")
    assigned = split_assign(
        docs, "doc_id", [("train", 0.9), ("validation", 0.05), ("test", 0.05)]
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


_Q61_SQL = """
SELECT CASE WHEN b < 900000 THEN 'train'
            WHEN b < 950000 THEN 'validation'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS b
  FROM documents
) GROUP BY 1
"""


# Q62 PII scrub: per-pattern counts on the original text plus an md5 of
# the redacted text (so the oracle checks the REPLACEMENT too, not just
# the counts).  Entirely map-side regex work.
def q62_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pii import redact_pii

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return redact_pii(docs, "text").select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_ssn",
        "n_phone",
        F.md5(F.col("text")).alias("redacted_md5"),
    )


_Q62_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
       CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
           '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
FROM documents
"""


# Q63 TF-IDF top terms: integer-exact reciprocal-df weighting (no float
# log), top-3 per document, ties by word.  The document-frequency
# relation broadcasts; see operators/textstats.py: tf_idf_topk.
def q63_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import tf_idf_topk

    docs = table(spark, sf_dir, "documents")
    return tf_idf_topk(docs, "doc_id", "text", 3)


_Q63_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK.format(col='text')}) AS word FROM documents
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
dfreq AS (SELECT word, count(*) AS dfreq FROM tf GROUP BY word),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, word, CAST(tf AS BIGINT) AS tf,
         CAST(tf * ((n_docs * 1000000) // dfreq) AS BIGINT) AS tfidf
  FROM tf JOIN dfreq USING (word), n
)
SELECT doc_id, word, tf, tfidf FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
  FROM scored
) WHERE rn <= 3
"""


# Q64 Unigram surprisal: per-word surprisal rounded to integer
# micro-nats BEFORE the per-doc sum, so document scores are exact
# integer aggregates.  The word-probability table broadcasts.
def q64_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import unigram_surprisal

    docs = table(spark, sf_dir, "documents")
    return unigram_surprisal(docs, "doc_id", "text")


_Q64_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK.format(col='text')}) AS word FROM documents
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
wc AS (SELECT word, sum(tf) AS cnt FROM tf GROUP BY word),
tot AS (SELECT sum(cnt) AS total FROM wc),
s AS (
  SELECT word,
         CAST(ROUND(-1000000.0 * ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))) AS BIGINT) AS s
  FROM wc, tot
)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       CAST(sum(tf * s) AS BIGINT) AS nll_micronat,
       CAST(sum(tf * s) // sum(tf) AS BIGINT) AS mean_micronat
FROM tf JOIN s USING (word)
GROUP BY doc_id
"""


# Q65 Span-level dedup (RefinedWeb/C4 recipe): 32-token spans, corpus
# keep-first, reassembled documents.  One shuffle by span text + one by
# doc id; see operators/textstats.py: dedup_spans.
def q65_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import dedup_spans

    docs = table(spark, sf_dir, "documents")
    return dedup_spans(docs, "doc_id", "text", span_tokens=32)


_Q65_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOK.format(col='text')} AS t FROM documents
),
nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
starts AS (
  SELECT doc_id, t,
         unnest(generate_series(1, greatest(n, 1), 32)) AS s
  FROM nz
),
chunks AS (
  SELECT doc_id,
         CAST((s - 1) // 32 AS BIGINT) AS chunk_idx,
         array_to_string(t[s:s+31], ' ') AS chunk_text
  FROM starts
),
marked AS (
  SELECT *,
         CASE WHEN row_number() OVER (
           PARTITION BY chunk_text ORDER BY doc_id, chunk_idx
         ) = 1 THEN 1 ELSE 0 END AS keep
  FROM chunks
)
SELECT doc_id,
       count(*) AS n_spans,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       COALESCE(
         string_agg(CASE WHEN keep = 1 THEN chunk_text END, ' '
                    ORDER BY chunk_idx), '') AS dedup_text
FROM marked GROUP BY doc_id
"""


# Q66 Blocklist filter: drop documents mentioning a blocked target
# (q08's long-word link convention), per-source survivor counts.
# Blocklist broadcasts; hit-id set broadcasts back — no corpus shuffle
# before the final tiny per-source aggregate.
BLOCKED_TARGETS = ("vector", "tracking")


def q66_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pii import blocklist_filter

    docs = table(spark, sf_dir, "documents")
    blocked = spark.createDataFrame(
        [(t,) for t in BLOCKED_TARGETS], ["target"]
    )
    clean = blocklist_filter(docs, "doc_id", "text", blocked)
    return clean.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


_Q66_SQL = """
WITH targets AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{6,}')) AS target
  FROM documents
),
bad AS (
  SELECT DISTINCT doc_id FROM targets
  WHERE target IN ('vector', 'tracking')
)
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM bad)
GROUP BY source
"""


# Q67 Gap fill + LOCF (TimescaleDB time_bucket_gapfill pattern):
# hourly per-user gauge, empty hours carry the last reading.  No grid
# join — each observed bucket generator-explodes its own gap; see
# operators/temporal.py: gap_fill.
def q67_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import gap_fill

    events = table(spark, sf_dir, "events")
    return gap_fill(events, "user_id", "ts", "value")


_Q67_SQL = """
WITH obs AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         max(CAST(ROUND(value * 100) AS BIGINT)) AS value_cents
  FROM events GROUP BY 1, 2
),
nxt AS (
  SELECT *, lead(bucket) OVER (PARTITION BY user_id ORDER BY bucket) AS nb
  FROM obs
),
g AS (
  SELECT user_id, value_cents, bucket,
         unnest(generate_series(bucket,
                                COALESCE(nb - INTERVAL 1 HOUR, bucket),
                                INTERVAL 1 HOUR)) AS fb
  FROM nxt
)
SELECT user_id,
       epoch_us(fb) AS bucket_epoch_us,
       value_cents,
       CAST(CASE WHEN fb = bucket THEN 0 ELSE 1 END AS BIGINT) AS filled
FROM g
"""


# Q68 Triangle counting over the lineitem co-purchase graph:
# node-iterator wedge join closed against a third edge scan, triangles
# attributed to their smallest vertex.  See operators/components.py:
# triangle_counts (degree orientation is the documented skew path).
def q68_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.components import triangle_counts

    return triangle_counts(_lineitem_edges(spark, sf_dir))


_Q68_SQL = f"""
WITH raw AS (
  SELECT {_LINEITEM_EDGES_SQL}
),
edges AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM raw
)
SELECT e1.a AS vid, count(*) AS n_triangles
FROM edges e1
JOIN (SELECT a AS b, b AS c FROM edges) e2 USING (b)
JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.c
GROUP BY e1.a
"""


# Q69 Conversion funnel (view -> click -> purchase, strictly ordered):
# one shuffle + JVM fold per user; equals the cascaded-min SQL.  See
# operators/sessionize.py: funnel_steps.
FUNNEL_STEPS = ["view", "click", "purchase"]


def q69_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sessionize import funnel_steps

    events = table(spark, sf_dir, "events")
    per_user = funnel_steps(events, "user_id", "ts", "event_type", FUNNEL_STEPS)
    return per_user.groupBy("stage").agg(F.count(F.lit(1)).alias("n_users"))


_Q69_SQL = """
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1
),
users AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
)
SELECT CASE WHEN t3.user_id IS NOT NULL THEN 3
            WHEN t2.user_id IS NOT NULL THEN 2
            WHEN t1.user_id IS NOT NULL THEN 1
            ELSE 0 END AS stage,
       count(*) AS n_users
FROM users u
LEFT JOIN t1 ON u.user_id = t1.user_id
LEFT JOIN t2 ON u.user_id = t2.user_id
LEFT JOIN t3 ON u.user_id = t3.user_id
GROUP BY 1
"""


# Q70 Word co-occurrence PMI: unordered distinct pairs per document,
# generated map-side as the upper triangle only (no exploded
# self-join, no d^2 generate-then-filter), per-doc distinct tokens
# capped at 16 by in-doc frequency — the executor-OOM guard a 100 TB
# corpus needs.  See operators/textstats.py: cooccurrence_pmi.
def q70_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import cooccurrence_pmi

    docs = table(spark, sf_dir, "documents")
    return cooccurrence_pmi(
        docs, "doc_id", "text", min_pairs=5, max_tokens_per_doc=16
    )


_Q70_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOK.format(col='text')} AS t FROM documents
),
tokcnt AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY 1, 2
),
dw AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, w,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, w) AS rn
    FROM tokcnt
  ) WHERE rn <= 16
),
pc AS (
  SELECT a.w AS w1, b.w AS w2, count(*) AS n_ab
  FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2
),
wc AS (SELECT w, count(*) AS n FROM dw GROUP BY 1),
nd AS (SELECT count(*) AS n_docs FROM documents)
SELECT w1, w2, n_ab,
       CAST(ROUND(1000000.0 * ln(
         CAST(n_ab * n_docs AS DOUBLE) / CAST(na.n * nb.n AS DOUBLE)
       )) AS BIGINT) AS pmi_micronat
FROM pc
JOIN wc na ON pc.w1 = na.w
JOIN wc nb ON pc.w2 = nb.w
CROSS JOIN nd
WHERE n_ab >= 5
"""


# Q71 Weekly retention matrix: users cohorted by first-activity week,
# counted in each later activity week.  Two shuffles: the per-user
# first-week window and the (cohort, offset) aggregate — the classic
# retention rollup with no per-user join (the first week rides along in
# the window).
def q71_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    weekly = events.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).alias("wk"),
    ).withColumn("cohort_wk", F.min("wk").over(w))
    return (
        weekly.groupBy(
            F.unix_micros("cohort_wk").alias("cohort_epoch_us"),
            ((F.unix_micros("wk") - F.unix_micros("cohort_wk"))
             / F.lit(7 * 24 * 3_600_000_000)).cast("long").alias("weeks_since"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


_Q71_SQL = """
WITH weekly AS (
  SELECT user_id, date_trunc('week', ts) AS wk,
         min(date_trunc('week', ts)) OVER (PARTITION BY user_id) AS cohort_wk
  FROM events
)
SELECT epoch_us(cohort_wk) AS cohort_epoch_us,
       CAST((epoch_us(wk) - epoch_us(cohort_wk)) // 604800000000 AS BIGINT)
         AS weeks_since,
       count(DISTINCT user_id) AS n_users
FROM weekly
GROUP BY 1, 2
"""


# Q72 Argmin per group (TPC-H Q2's min-cost shape on lineitem): for
# each part, the supplier with the lowest total extended price, ties by
# suppkey.  One (part, supp) aggregate shuffle + one per-part window —
# the canonical groupwise-argmin plan.
def q72_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(cents("l_extendedprice")).alias("cost_cents")
    )
    w = Window.partitionBy("l_partkey").orderBy("cost_cents", "l_suppkey")
    return (
        per.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
            "cost_cents",
        )
    )


_Q72_SQL = """
WITH per AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cost_cents
  FROM lineitem GROUP BY 1, 2
)
SELECT l_partkey AS partkey, l_suppkey AS suppkey, cost_cents FROM (
  SELECT *, row_number() OVER (
    PARTITION BY l_partkey ORDER BY cost_cents, l_suppkey
  ) AS rn FROM per
) WHERE rn = 1
"""


# Q73 Sequence packing: lay the q51 chunks end to end in (doc_id,
# chunk_idx) order and cut every 256 tokens into one training
# sequence.  The prefix sum is the two-level range-shuffle form (no
# global window) — operators/sort.py: with_global_prefix_sum; the
# oracle is the single-window SQL equivalent.
def q73_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import chunk_documents, pack_sequences

    docs = table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=8)
    return pack_sequences(
        chunks, "doc_id", "chunk_idx", "n_chunk_tokens", budget=256
    )


_Q73_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOK.format(col='text')} AS t FROM documents
),
nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
starts AS (
  SELECT doc_id, t, n,
         unnest(generate_series(1, greatest(n - 8, 1), 56)) AS s
  FROM nz
),
chunks AS (
  SELECT doc_id, (s - 1) // 56 AS chunk_idx, len(t[s:s+63]) AS nt
  FROM starts
),
c AS (
  SELECT doc_id, chunk_idx, nt,
         sum(nt) OVER (ORDER BY doc_id, chunk_idx
                       ROWS UNBOUNDED PRECEDING) - nt AS st
  FROM chunks
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(nt AS BIGINT) AS n_tokens,
       CAST(st // 256 AS BIGINT) AS seq_id,
       CAST(st % 256 AS BIGINT) AS seq_offset
FROM c
"""


# Q74 Global triangle count via the degree-oriented (skew-proof) plan;
# the oracle counts the same triangles with the q68 node-iterator —
# the totals must agree because orientation only changes WHERE each
# triangle is counted, never whether.
def q74_triangle_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.components import triangle_total_degree_oriented

    return triangle_total_degree_oriented(_lineitem_edges(spark, sf_dir))


_Q74_SQL = f"""
WITH raw AS (
  SELECT {_LINEITEM_EDGES_SQL}
),
edges AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM raw
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM edges e1
JOIN (SELECT a AS b, b AS c FROM edges) e2 USING (b)
JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.c
"""


# Q75 Perplexity-bucketed mixture accounting: quartile the corpus by
# per-doc unigram surprisal (exact percentile_disc boundaries,
# map-side classification — no corpus-wide ntile) and report each
# tier's doc/token mass.  See operators/textstats.py:
# surprisal_mixture.
def q75_surprisal_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import surprisal_mixture

    docs = table(spark, sf_dir, "documents")
    return surprisal_mixture(docs, "doc_id", "text", n_buckets=4)


_Q75_SQL = f"""
WITH surp AS ({_Q64_SQL}),
b AS (
  SELECT quantile_disc(mean_micronat, 0.25) AS b1,
         quantile_disc(mean_micronat, 0.5)  AS b2,
         quantile_disc(mean_micronat, 0.75) AS b3
  FROM surp
)
SELECT CAST(1 + (mean_micronat > b1)::INT + (mean_micronat > b2)::INT
              + (mean_micronat > b3)::INT AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(min(mean_micronat) AS BIGINT) AS min_mean_micronat,
       CAST(max(mean_micronat) AS BIGINT) AS max_mean_micronat
FROM surp, b
GROUP BY 1
"""


# Q76 Deterministic shuffle + sharding for training export: one fixed
# md5-order permutation of the corpus cut into 8 shards.  See
# operators/sampling.py: shuffle_shards.
def q76_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import shuffle_shards

    docs = table(spark, sf_dir, "documents")
    return shuffle_shards(docs, "doc_id", n_shards=8)


_Q76_SQL = """
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM documents
)
SELECT doc_id, CAST(hv % 8 AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id)
            AS BIGINT) AS pos
FROM h
"""


# Q77 The full curation pipeline, filter to training export: language
# + quality floor + exact-dedup canonical + repetition filter +
# benchmark decontamination, then chunk and pack the survivors into
# fixed-budget training sequences.  This is the end-to-end shape a
# training-data user actually ships; every stage is one of the
# catalog's individually-oracled operators, composed.
def q77_full_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan composition: ONE FileScan of ``documents`` is
    checkpointed and feeds all five curation signals.  The per-row signals
    (quality, language, and repetition's map-side fraction) CHAIN as
    narrow projections via the operators' ``keep`` pass-through instead
    of joining back on the id, so the only shuffles left are the ones
    the semantics force: repetition's top-gram aggregate, the
    exact-dup canonical groupBy, the decontamination aggregate (eval
    shingles broadcast), and the pack prefix-sum.  At 100 TB this is
    the difference between one corpus read and five."""
    from .operators.textstats import (
        chunk_documents,
        contamination,
        pack_sequences,
        repetition_stats,
    )

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )
    tr = docs.where(F.col("doc_id") % 100 != 0)
    ev = docs.where(F.col("doc_id") % 100 == 0)

    scored = text_quality(tr, "doc_id", "text", keep=("text",)).select(
        "doc_id", "text", "quality_pct"
    )
    scored = lang_id(scored, "doc_id", "text", keep=("text", "quality_pct"))
    scored = repetition_stats(
        scored, "doc_id", "text", keep=("text", "quality_pct", "pred_lang")
    )

    dupes = exact_duplicates(docs, "doc_id", "text").where(
        F.col("doc_id") != F.col("canonical_id")
    ).select("doc_id")
    contam = contamination(tr, ev, "doc_id", "text", n=4).select("doc_id")

    kept = (
        scored.join(dupes, "doc_id", "left_anti")
        .join(contam, "doc_id", "left_anti")
        .where(
            (F.col("pred_lang") == "en")
            & (F.col("quality_pct") >= 40)
            & (F.col("dup_ngram_ppm") <= 100000)
            & (F.col("top_ngram_ppm") <= 60000)
        )
        .select("doc_id", "text")
    )
    # checkpointed: pack's range partitioner SAMPLES its input to pick
    # boundaries before the shuffle reads it again — unmaterialized, the
    # whole five-signal funnel above executes twice (same fix as
    # q138's score table; measured ~7.5 s -> ~5 s at sf0.1)
    chunks = chunk_documents(
        kept, "doc_id", "text", chunk_tokens=64, overlap=8
    ).localCheckpoint(eager=False)
    return pack_sequences(
        chunks, "doc_id", "chunk_idx", "n_chunk_tokens", budget=256
    )


_Q77_SQL = f"""
WITH q AS ({_Q21_SQL}),
l AS ({_Q22_SQL}),
h AS (SELECT doc_id, md5(text) AS ch FROM documents),
dupes AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY ch) AS canon,
           count(*) OVER (PARTITION BY ch) AS gs
    FROM h
  ) WHERE gs > 1 AND doc_id <> canon
),
rep AS ({_Q58_SQL}),
contam AS ({_Q59_SQL}),
kept AS (
  SELECT d.doc_id, d.text
  FROM documents d
  JOIN q ON d.doc_id = q.doc_id
  JOIN l ON d.doc_id = l.doc_id
  JOIN rep ON d.doc_id = rep.doc_id
  WHERE d.doc_id % 100 <> 0
    AND d.doc_id NOT IN (SELECT doc_id FROM dupes)
    AND d.doc_id NOT IN (SELECT doc_id FROM contam)
    AND l.pred_lang = 'en' AND q.quality_pct >= 40
    AND rep.dup_ngram_ppm <= 100000 AND rep.top_ngram_ppm <= 60000
),
ktoks AS (
  SELECT doc_id, {_TOK.format(col='text')} AS t FROM kept
),
knz AS (SELECT doc_id, t, len(t) AS n FROM ktoks WHERE len(t) > 0),
kstarts AS (
  SELECT doc_id, t, n,
         unnest(generate_series(1, greatest(n - 8, 1), 56)) AS s
  FROM knz
),
kchunks AS (
  SELECT doc_id, (s - 1) // 56 AS chunk_idx, len(t[s:s+63]) AS nt
  FROM kstarts
),
kc AS (
  SELECT doc_id, chunk_idx, nt,
         sum(nt) OVER (ORDER BY doc_id, chunk_idx
                       ROWS UNBOUNDED PRECEDING) - nt AS st
  FROM kchunks
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(nt AS BIGINT) AS n_tokens,
       CAST(st // 256 AS BIGINT) AS seq_id,
       CAST(st % 256 AS BIGINT) AS seq_offset
FROM kc
"""


# Q78 REAL image decode, oracle-checked end-to-end.  Each document
# becomes an 8x6 binary PPM whose pixel bytes are md5-derived (and so
# reproducible in any engine); Spark ENCODES the payloads, DECODES them
# with the pure-python image decoder (operators/multimodal.py:
# decode_image), and emits the exact-integer 4x4 block-sum grid.  The
# DuckDB oracle re-derives the same pixels arithmetically from md5 hex
# — if any byte of the encode->decode path drifts, the hash gate
# catches it.  This closes the "decode is a stand-in" seam: the codec
# path under test is the real one extract_features uses.
def q78_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import media_block_sums, ppm_from_documents

    docs = table(spark, sf_dir, "documents")
    media = ppm_from_documents(docs, width=8, height=6)
    return media_block_sums(media).select(
        F.col("id").alias("doc_id"), "block_idx", "gray_sum"
    )


_Q78_SQL = """
WITH bytes AS (
  SELECT d.doc_id, g.f,
         ('0x' || substr(md5(d.text || '-' || CAST(g.f // 16 AS VARCHAR)),
                         2 * (g.f % 16) + 1, 2))::BIGINT AS v
  FROM documents d, generate_series(0, 143) g(f)
),
pix AS (
  SELECT doc_id, f // 3 AS p, SUM(v) AS gray
  FROM bytes GROUP BY 1, 2
),
blocks AS (
  SELECT doc_id,
         CASE WHEN p // 8 < 1 THEN 0 WHEN p // 8 < 3 THEN 1
              WHEN p // 8 < 4 THEN 2 ELSE 3 END AS by,
         (p % 8) // 2 AS bx,
         gray
  FROM pix
)
SELECT doc_id, CAST(4 * by + bx AS BIGINT) AS block_idx,
       CAST(SUM(gray) AS BIGINT) AS gray_sum
FROM blocks GROUP BY 1, 2
"""


# Q78b audio decode, driver-gated end-to-end
# (operators/multimodal.py: wav_from_documents -> audio_sample_stats):
# a real RIFF/fmt/data container walk via stdlib wave, with the int16
# PCM samples recovered RAW (no float normalization), so the per-clip
# integer stats are engine-exact and the oracle re-derives every
# sample from the md5 digest stream — PCM is lossless, so unlike the
# JPEG gate (q125b) no constant-input trick is needed.  Sample i is
# the little-endian int16 from bytes (2i, 2i+1) of digest i//8; both
# bytes always land in the same digest because 2i is even.
_WAV_SAMPLES = 256


def q78b_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import (
        audio_sample_stats,
        spread_decode_input,
        wav_from_documents,
    )

    # single-split parquet at gate scales — spread the Python decode UP
    # only (a wide 100x input keeps its own partitioning; see
    # spread_decode_input for the 16-task floor rationale)
    docs = spread_decode_input(table(spark, sf_dir, "documents"))
    media = wav_from_documents(docs, n_samples=_WAV_SAMPLES)
    return audio_sample_stats(media).select(
        F.col("id").alias("doc_id"), "n_samples", "abs_sum", "sq_sum"
    )


_Q78B_SQL = f"""
WITH s AS (
  SELECT doc_id,
         ('0x' || substr(md5(text || '-a' || CAST(i // 8 AS VARCHAR)),
                         4 * (i % 8) + 1, 2))::BIGINT
         + 256 * ('0x' || substr(md5(text || '-a' || CAST(i // 8 AS VARCHAR)),
                                 4 * (i % 8) + 3, 2))::BIGINT AS u
  FROM documents, generate_series(0, {_WAV_SAMPLES - 1}) g(i)
),
t AS (
  SELECT doc_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v FROM s
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(abs(v)) AS BIGINT) AS abs_sum,
       CAST(sum(v * v) AS BIGINT) AS sq_sum
FROM t GROUP BY doc_id
"""


# Q79 SemDeDup: semantic dedup by k-means blocking + within-cluster
# cosine (operators/similarity.py: semdedup).  The oracle re-derives
# the assignment with the q09 argmin CTE and the duplicate rule with
# an EXISTS-style lower-id join — every decision (distance argmin,
# cosine threshold) is the same double arithmetic both engines fold
# identically (proven by q09/q38's hash-green rows).
SEMDEDUP_MAX_CLUSTER = 50


def q79_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import semdedup

    emb = table(spark, sf_dir, "embeddings")
    centers = _seed_centers(spark, sf_dir)
    return semdedup(
        emb,
        "vec_id",
        "embedding",
        centers,
        NEARDUP_COS,
        max_cluster=SEMDEDUP_MAX_CLUSTER,
    )


# The oracle mirrors the max_cluster guard exactly: clusters larger
# than the cap re-split into ceil(size/cap) sub-blocks on
# vec_id % n_splits (integer arithmetic in both engines), and pairs
# only compare within a sub-block.  At sf0.01 (~500 embeddings over 8
# seed centers) several clusters exceed 50, so the driver gate
# exercises the capped path, not just the identity n_splits=1 case.
_Q79_SQL = f"""
WITH {_EMB_MICRO_CTE},
c AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8
),
d AS (
  SELECT e.vec_id, c.cid,
         list_sum(list_transform(range(1, len(v) + 1),
                                 i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS dist
  FROM e CROSS JOIN c
),
asg0 AS (
  SELECT vec_id, cid AS cluster
  FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d)
  WHERE rn = 1
),
asg AS (
  SELECT vec_id, cluster,
         vec_id % ((count(*) OVER (PARTITION BY cluster)
                    + {SEMDEDUP_MAX_CLUSTER - 1}) // {SEMDEDUP_MAX_CLUSTER})
           AS sub
  FROM asg0
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM asg a
  JOIN asg b ON a.cluster = b.cluster AND a.sub = b.sub
            AND a.vec_id < b.vec_id
  JOIN nz ea ON ea.vec_id = a.vec_id
  JOIN nz eb ON eb.vec_id = b.vec_id
  WHERE {_ICOS_PPM_SQL.format(a='ea.q', b='eb.q', na='ea.nn', nb='eb.nn')}
          >= {int(round(NEARDUP_COS * 1e6))}
)
SELECT asg.vec_id, CAST(asg.cluster AS BIGINT) AS cluster,
       CAST(CASE WHEN dups.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
FROM asg LEFT JOIN dups ON asg.vec_id = dups.vec_id
"""


# Q80 Bigram-LM perplexity scoring (CCNet-style quality filter):
# add-one-smoothed P(w2|w1), per-bigram surprisal rounded to integer
# micro-nats before the per-doc sum — operators/textstats.py:
# bigram_surprisal.  The scoring join keys on the bigram (corpus
# bigram types never broadcast at scale); left-context totals and the
# vocabulary size ride in as broadcasts.
def q80_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import bigram_surprisal

    docs = table(spark, sf_dir, "documents")
    return bigram_surprisal(docs, "doc_id", "text")


_Q80_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOK.format(col='text')} AS t FROM documents
),
big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks WHERE len(t) >= 2
),
tf AS (SELECT doc_id, bg, count(*) AS tf FROM big GROUP BY 1, 2),
cab AS (SELECT bg, sum(tf) AS cab FROM tf GROUP BY bg),
ca AS (
  SELECT split_part(bg, ' ', 1) AS w1, sum(cab) AS ca FROM cab GROUP BY 1
),
v AS (
  SELECT count(DISTINCT w) AS vsz
  FROM (SELECT unnest(t) AS w FROM toks)
),
s AS (
  SELECT bg,
         CAST(ROUND(-1000000.0 * ln((CAST(cab AS DOUBLE) + 1)
                                    / (CAST(ca AS DOUBLE) + vsz))) AS BIGINT) AS s
  FROM cab JOIN ca ON split_part(cab.bg, ' ', 1) = ca.w1, v
)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_bigrams,
       CAST(sum(tf * s) AS BIGINT) AS nll_micronat,
       CAST(sum(tf * s) // sum(tf) AS BIGINT) AS mean_micronat
FROM tf JOIN s USING (bg)
GROUP BY doc_id
"""


# Q81 int8 scalar-quantized ANN: same task as q20 but over compressed
# vectors (functions/vectors.py: sq8_quantize — floor(127*v/max|v|+.5)),
# scored by exact integer dot products.  The oracle re-derives the
# quantization and the integer dots in DuckDB list math; ranks (not the
# doubles) are the output, ties by ascending neighbor id.
def q81_sq8_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import sq8_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return sq8_topk(emb, queries, id_col="vec_id", vec_col="embedding", k=10)


_Q81_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
z AS (
  SELECT vec_id,
         CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(floor(127.0 * x / m + 0.5) AS BIGINT))
         END AS q
  FROM (SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS m FROM e)
),
n AS (
  SELECT vec_id, q,
         CAST(list_sum(list_transform(range(1, len(q) + 1),
                                      i -> q[i] * q[i])) AS BIGINT) AS nn
  FROM z
),
qs AS (SELECT vec_id AS query_id, q AS qq, nn AS qn FROM n
       WHERE vec_id < 5 AND nn > 0),
s AS (
  SELECT qs.query_id, n.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, len(n.q) + 1),
                                      i -> n.q[i] * qs.qq[i])) AS DOUBLE)
           / (sqrt(CAST(n.nn AS DOUBLE)) * sqrt(CAST(qs.qn AS DOUBLE))) AS cos
  FROM n CROSS JOIN qs
  WHERE n.vec_id <> qs.query_id AND n.nn > 0
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rnk
  FROM s
)
WHERE rnk <= 10
"""


# Q82 Bloom-filter incremental decontamination: the prior-snapshot half
# of the corpus (src0..src9) builds an m-bit Bloom filter over content
# hashes; the new-batch half is flagged map-side against the broadcast
# bitmap (operators/dedup.py: bloom_*).  Every bit position is
# md5-derived, so the oracle reproduces the filter exactly — INCLUDING
# any false positives, which are part of the operator's contract.
_BLOOM_M = 1 << 16
_SNAPSHOT_SOURCES = tuple(f"src{i}" for i in range(10))


def q82_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import (
        bloom_hits_bitmap,
        bloom_position_set,
        bloom_words,
    )

    docs = table(spark, sf_dir, "documents")
    snap = docs.where(F.col("source").isin(*_SNAPSHOT_SOURCES))
    batch = docs.where(~F.col("source").isin(*_SNAPSHOT_SOURCES))
    words = bloom_words(
        bloom_position_set(snap, "text", _BLOOM_M), _BLOOM_M
    )
    return bloom_hits_bitmap(batch, "text", words, _BLOOM_M).select(
        "doc_id", "bloom_hit"
    )


_SNAP_IN = ", ".join(f"'{s}'" for s in _SNAPSHOT_SOURCES)
_Q82_SQL = f"""
WITH pos AS (
  SELECT DISTINCT
         ('0x' || substr(md5(text || ':' || CAST(j AS VARCHAR)), 1, 15))::BIGINT
           % {_BLOOM_M} AS pos
  FROM documents, generate_series(0, 2) g(j)
  WHERE source IN ({_SNAP_IN})
),
bp AS (
  SELECT doc_id,
         ('0x' || substr(md5(text || ':' || CAST(j AS VARCHAR)), 1, 15))::BIGINT
           % {_BLOOM_M} AS pos
  FROM documents, generate_series(0, 2) g(j)
  WHERE source NOT IN ({_SNAP_IN})
)
SELECT bp.doc_id,
       CAST(CASE WHEN count(pos.pos) = 3 THEN 1 ELSE 0 END AS BIGINT) AS bloom_hit
FROM bp LEFT JOIN pos USING (pos)
GROUP BY bp.doc_id
"""


# Q83 token-budget mixture sampling: each source is cut to a hard token
# budget by walking its docs in deterministic (md5-hash, id) order —
# operators/sampling.py: token_budget_sample (distributed prefix sum,
# no per-group window).  The oracle's per-group window computes the
# same inclusive running sum over the same total order.
_TOKEN_BUDGET = 600


def q83_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import token_budget_sample

    docs = table(spark, sf_dir, "documents")
    return token_budget_sample(
        docs, "doc_id", "text", "source", _TOKEN_BUDGET
    )


_Q83_SQL = f"""
WITH t AS (
  SELECT source AS "group", doc_id,
         CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS h
  FROM documents
),
c AS (
  SELECT "group", doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY "group" ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM t
)
SELECT "group", doc_id, n_tokens, cum_tokens
FROM c WHERE cum_tokens - n_tokens < {_TOKEN_BUDGET}
"""


# Q84 product-quantization ANN (the FAISS ADC recipe): deterministic
# seeded codebook (sub-vectors of vec_id < 16), map-side encode
# (argmin per subspace, assign_clusters tie rule), LUT scoring with
# zero corpus-side vector math — operators/similarity.py: pq_*.
# The oracle rebuilds the codebook, re-derives every code with a
# row_number argmin, and sums the per-subspace partial terms in the
# SAME fixed s=0..7 order as the Spark expression (a bare SQL SUM()
# would add doubles in nondeterministic order).
_PQ_M, _PQ_K, _PQ_SUB = 8, 16, 8


def q84_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import pq_codebook, pq_topk

    emb = table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, "vec_id", "embedding", m=_PQ_M, k=_PQ_K)
    queries = emb.where(F.col("vec_id") < 5)
    return pq_topk(emb, queries, "vec_id", "embedding", cb, k=10)


def _pq_oracle_sql() -> str:
    m, sub = _PQ_M, _PQ_SUB
    npiv = ", ".join(
        f"MAX(CASE WHEN s = {s} THEN nsq_s END) AS t{s}" for s in range(m)
    )
    nsum = " + ".join(f"t{s}" for s in range(m))
    upiv = ", ".join(
        f"MAX(CASE WHEN s = {s} THEN num_s END) AS u{s}" for s in range(m)
    )
    usum = " + ".join(f"u{s}" for s in range(m))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb AS (
  SELECT s.s, e.vec_id AS c, e.v[(s.s*{sub}+1):(s.s*{sub}+{sub})] AS w
  FROM e, generate_series(0, {m - 1}) s(s) WHERE e.vec_id < {_PQ_K}
),
enc AS (
  SELECT vec_id, s, c, w FROM (
    SELECT e.vec_id, cb.s, cb.c, cb.w,
           row_number() OVER (
             PARTITION BY e.vec_id, cb.s
             ORDER BY list_sum(list_transform(range(1, {sub + 1}),
                       i -> (e.v[cb.s*{sub} + i] - cb.w[i])
                            * (e.v[cb.s*{sub} + i] - cb.w[i]))),
                      cb.c) AS rn
    FROM e CROSS JOIN cb)
  WHERE rn = 1
),
nv AS (
  SELECT vec_id, ({nsum}) AS nsq FROM (
    SELECT vec_id, {npiv}
    FROM (SELECT vec_id, s,
                 list_sum(list_transform(w, x -> x * x)) AS nsq_s FROM enc)
    GROUP BY vec_id)
),
qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
score AS (
  SELECT n.query_id, n.vec_id AS neighbor_id,
         ({usum}) / sqrt(nv.nsq) AS sc
  FROM (
    SELECT query_id, vec_id, {upiv} FROM (
      SELECT q.query_id, enc.vec_id, enc.s,
             list_sum(list_transform(range(1, {sub + 1}),
                      i -> q.qv[enc.s*{sub} + i] * enc.w[i])) AS num_s
      FROM enc CROSS JOIN qs q)
    GROUP BY query_id, vec_id) n
  JOIN nv ON nv.vec_id = n.vec_id
  WHERE nv.nsq > 0 AND n.vec_id <> n.query_id
),
rnk AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sc DESC, neighbor_id ASC) AS rnk
  FROM score
)"""


_PQ_CTE = _pq_oracle_sql()
_Q84_SQL = (
    _PQ_CTE
    + """
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank
FROM rnk WHERE rnk <= 10
"""
)

# Q85 two-tier PQ + exact re-rank (operators/similarity.py:
# pq_rerank_topk): the PQ CTE's top-``shortlist`` candidates per query
# are re-scored with the engine-exact integer cosine (micro-quantize +
# icos_ppm — an emitted rank never hangs on a float fold) and
# re-ranked.
_PQ_SHORTLIST = 50
_Q85_SQL = (
    _PQ_CTE
    + f""",
short AS (SELECT query_id, neighbor_id FROM rnk WHERE rnk <= {_PQ_SHORTLIST}),
mq AS (
  SELECT vec_id, q, {_ISELF_SQL.format(q='q')} AS nn FROM (
    SELECT vec_id, {_MICROQ_SQL.format(v='v')} AS q FROM e
  )
),
rer AS (
  SELECT short.query_id, short.neighbor_id,
         {_ICOS_PPM_SQL.format(a='c.q', b='q.q', na='c.nn', nb='q.nn')} AS cos
  FROM short
  JOIN mq c ON c.vec_id = short.neighbor_id
  JOIN mq q ON q.vec_id = short.query_id
  WHERE c.nn > 0 AND q.nn > 0
)
SELECT query_id, neighbor_id, CAST(r2 AS BIGINT) AS rank
FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS r2
  FROM rer
)
WHERE r2 <= 10
"""
)


def q85_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import pq_codebook, pq_rerank_topk

    emb = table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, "vec_id", "embedding", m=_PQ_M, k=_PQ_K)
    queries = emb.where(F.col("vec_id") < 5)
    return pq_rerank_topk(
        emb, queries, "vec_id", "embedding", cb, k=10, shortlist=_PQ_SHORTLIST
    )


# Q86 k-core decomposition over the lineitem part-graph
# (operators/components.py: kcore_vertices): peel vertices under
# degree k until the greatest fixpoint.  The oracle unrolls the peel
# loop a fixed number of rounds — MORE than the measured fixpoint
# depth at both gate scales (5 @ sf0.001, 3 @ sf0.01 for k=30), after
# which further rounds are no-ops; if data ever needed more rounds the
# compare fails loudly rather than silently diverging.
_KCORE_K, _KCORE_ROUNDS = 30, 10


def q86_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.components import kcore_vertices

    return kcore_vertices(_lineitem_edges(spark, sf_dir), k=_KCORE_K)


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    parts = [
        f"""
WITH raw AS (
  SELECT DISTINCT {_LINEITEM_EDGES_SQL}
),
e0 AS MATERIALIZED (
  SELECT src AS s, dst AS d FROM raw
  UNION
  SELECT dst AS s, src AS d FROM raw
)"""
    ]
    for i in range(rounds):
        parts.append(
            f""",
d{i} AS (SELECT s, count(*) AS dg FROM e{i} GROUP BY s),
k{i} AS (SELECT s FROM d{i} WHERE dg >= {k}),
e{i + 1} AS MATERIALIZED (
  SELECT e.s, e.d FROM e{i} e
  JOIN k{i} a ON e.s = a.s
  JOIN k{i} b ON e.d = b.s
)"""
        )
    parts.append(
        f"""
SELECT s AS vid, CAST(count(*) AS BIGINT) AS deg
FROM e{rounds} GROUP BY s
"""
    )
    return "".join(parts)


_Q86_SQL = _kcore_oracle_sql(_KCORE_K, _KCORE_ROUNDS)


# Q87 length-bucketed batching (operators/textstats.py:
# batch_by_length over the q51 chunks): per-batch padding statistics —
# what random batching would waste vs near-equal-length batches.  The
# oracle's single window is the same total order the distributed rank
# produces.
_BATCH_SIZE = 32


def q87_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import batch_by_length, chunk_documents

    docs = table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=8)
    batched = batch_by_length(
        chunks, ["doc_id", "chunk_idx"], "n_chunk_tokens", _BATCH_SIZE
    )
    return batched.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.max("n_chunk_tokens").cast("long").alias("max_len"),
        (
            F.max("n_chunk_tokens") * F.count(F.lit(1))
            - F.sum("n_chunk_tokens")
        ).cast("long").alias("pad_tokens"),
    )


_Q87_SQL = f"""
WITH chunks AS (
  SELECT doc_id, chunk_idx, n_chunk_tokens FROM ({_Q51_SQL})
),
ranked AS (
  SELECT doc_id, chunk_idx, n_chunk_tokens,
         row_number() OVER (ORDER BY n_chunk_tokens, doc_id, chunk_idx) AS rn
  FROM chunks
)
SELECT CAST((rn - 1) // {_BATCH_SIZE} AS BIGINT) AS batch_id,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(max(n_chunk_tokens) AS BIGINT) AS max_len,
       CAST(max(n_chunk_tokens) * count(*) - sum(n_chunk_tokens) AS BIGINT)
         AS pad_tokens
FROM ranked GROUP BY 1
"""


# Q88 CDC snapshot materialization (operators/temporal.py:
# cdc_latest_snapshot): events replayed as an upsert stream keyed by
# user — latest change by (ts, event_id) wins, 'error' as the
# tombstone type deletes the key.  One shuffle on the key; the oracle
# is the identical row_number argmax.
def q88_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import cdc_latest_snapshot

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        cents("value").alias("value_cents"),
    )
    snap = cdc_latest_snapshot(
        ev,
        ["user_id"],
        ["ts_us", "event_id"],
        F.col("event_type") == "error",
    )
    return snap.select("user_id", "ts_us", "event_id", "value_cents")


_Q88_SQL = """
WITH ranked AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS value_cents,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts_us, event_id, value_cents
FROM ranked WHERE rn = 1 AND event_type <> 'error'
"""


# Q89 SCD Type-2 dimension history (operators/temporal.py:
# scd2_intervals): replay each user's event-type changes into validity
# intervals — consecutive identical values extend the interval, a
# change closes it (valid_to = next valid_from) and bumps the version.
# The dimension-table half of q88's snapshot merge; one key shuffle
# carries the change flag, run index, collapse, and valid_to stitch.
def q89_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import scd2_intervals

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
    )
    return scd2_intervals(
        ev, ["user_id"], "ts_us", "event_id", ["event_type"]
    )


_Q89_SQL = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS o, event_id AS tb, event_type
  FROM events
),
flagged AS (
  SELECT user_id, o, tb, event_type,
         CASE WHEN row_number() OVER w = 1
                OR lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS flag
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY o, tb)
),
runs0 AS (
  SELECT user_id, o, event_type,
         sum(flag) OVER (PARTITION BY user_id ORDER BY o, tb
                         ROWS UNBOUNDED PRECEDING) AS run
  FROM flagged
),
runs AS (
  SELECT user_id, run, min(o) AS valid_from, min(event_type) AS event_type
  FROM runs0 GROUP BY user_id, run
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to,
       CAST(run AS BIGINT) AS version
FROM runs
"""


# Q90 deterministic HyperLogLog distinct (operators/sketches.py:
# hll_registers/hll_estimate): per event type, estimate distinct users
# from 2^9 md5-derived registers and report the exact count alongside.
# Unlike approx_count_distinct (register layout is Spark-private), this
# sketch is bit-reproducible by ANY engine, so the oracle re-derives
# the registers and the single-division estimate exactly.  At 100 TB
# the exact form shuffles every distinct user id; this shuffles <=512
# longs per group.
_HLL_P = 9


def q90_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import hll_estimate, hll_registers

    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    regs = hll_registers(ev, ["event_type"], "user_id", p=_HLL_P)
    est = hll_estimate(regs, ["event_type"], p=_HLL_P)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type", "n_exact", "n_registers", "hll_estimate_micro"
    )


def _hll_oracle_sql(p: int) -> str:
    from .operators.sketches import (
        _HASH_BITS,
        hll_alpha,
        hll_linear_counting_micro,
    )

    m = 1 << p
    tail = _HASH_BITS - p
    numer = hll_alpha(m) * float(m) * float(m) * float(1 << 40)
    lc = ", ".join(str(x) for x in hll_linear_counting_micro(m))
    return f"""
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM events
),
regs AS (
  SELECT event_type, hv % {m} AS bucket,
         max(LEAST(CASE WHEN (hv >> {p}) > 0
                        THEN {tail + 1} - length(bin(hv >> {p}))
                        ELSE {tail + 1} END, 40)) AS reg
  FROM h GROUP BY event_type, bucket
),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_registers,
         sum(1::BIGINT << (40 - reg)) AS present
  FROM regs GROUP BY event_type
),
est AS (
  SELECT event_type, n_registers,
         CASE WHEN ({m} - n_registers) > 0
               AND ({numer!r} /
                    CAST(present + ({m} - n_registers) * (1::BIGINT << 40)
                         AS DOUBLE)) <= {2.5 * m!r}
              THEN ([{lc}]::BIGINT[])[{m} - n_registers]
              ELSE CAST(round({numer!r} /
                   CAST(present + ({m} - n_registers) * (1::BIGINT << 40)
                        AS DOUBLE) * 1000000.0) AS BIGINT)
         END AS hll_estimate_micro
  FROM agg
),
ex AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
)
SELECT e.event_type, x.n_exact, e.n_registers, e.hll_estimate_micro
FROM est e JOIN ex x USING (event_type)
"""


_Q90_SQL = _hll_oracle_sql(_HLL_P)


# Q91 count-min-sketch heavy hitters (operators/sketches.py:
# cms_sketch/cms_lookup): sketch the full token stream into 4x256
# md5-hashed counters, then point-estimate the 30 highest-exact-count
# tokens against it — estimate >= exact always; the overestimate IS the
# sketch's collision error, made visible.  The sketch relation is
# O(depth*width) regardless of corpus size and broadcasts for lookup.
_CMS_DEPTH, _CMS_WIDTH, _CMS_TOPK = 4, 256, 30


def q91_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import cms_lookup, cms_sketch

    docs = table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    sketch = cms_sketch(
        counts, "token", "n_exact", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    cand = counts.orderBy(F.col("n_exact").desc(), "token").limit(_CMS_TOPK)
    est = cms_lookup(sketch, cand.select("token"), "token", width=_CMS_WIDTH)
    return cand.join(F.broadcast(est), "token").select(
        "token", "n_exact", "cms_estimate"
    )


_Q91_SQL = f"""
WITH tok AS (
  SELECT unnest({_TOK.format(col='text')}) AS token FROM documents
),
counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_exact FROM tok GROUP BY token
),
rows AS (SELECT unnest([0, 1, 2, 3]) AS r),
sketch AS (
  SELECT r,
         ('0x' || substr(md5(token || ':' || r::VARCHAR), 1, 15))::BIGINT
           % {_CMS_WIDTH} AS bucket,
         sum(n_exact) AS total
  FROM counts, rows GROUP BY 1, 2
),
cand AS (
  SELECT token, n_exact FROM counts
  ORDER BY n_exact DESC, token LIMIT {_CMS_TOPK}
),
est AS (
  SELECT c.token, min(s.total) AS cms_estimate
  FROM cand c
  CROSS JOIN rows
  JOIN sketch s ON s.r = rows.r
   AND s.bucket = ('0x' || substr(md5(c.token || ':' || rows.r::VARCHAR),
                                  1, 15))::BIGINT % {_CMS_WIDTH}
  GROUP BY c.token
)
SELECT c.token, c.n_exact, CAST(e.cms_estimate AS BIGINT) AS cms_estimate
FROM cand c JOIN est e USING (token)
"""


# Q92 grouped z-score anomalies (operators/stats.py: zscore_outliers):
# events whose cents-value sits >= 3 sigma from their event type's
# mean.  The aggregation is exact integer (n, sum, sum-of-squares
# longs), the score one fixed IEEE expression tree — so the 3-sigma
# boundary decision reproduces bit-exactly in the oracle.  Group stats
# broadcast; the fact rows never shuffle.
_Z_THRESH_MICRO = 3_000_000


def q92_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.stats import zscore_outliers

    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", cents("value").alias("value_cents")
    )
    out = zscore_outliers(ev, "event_type", "value_cents", _Z_THRESH_MICRO)
    return out.select("event_id", "event_type", "value_cents", "z_micro")


_Q92_SQL = f"""
WITH ev AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         sum(v) AS s1, sum(v * v) AS s2
  FROM ev GROUP BY event_type
),
scored AS (
  SELECT ev.event_id, ev.event_type, ev.v AS value_cents,
         CASE WHEN g.n > 1 AND
                   (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) > 0
              THEN CAST(round(
                (CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                / sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                * 1000000.0) AS BIGINT)
         END AS z_micro
  FROM ev JOIN g USING (event_type)
)
SELECT event_id, event_type, value_cents, z_micro
FROM scored WHERE abs(z_micro) >= {_Z_THRESH_MICRO}
"""


# Q93 label-propagation communities (operators/components.py:
# label_propagation): 3 synchronous rounds of most-frequent-neighbor-
# label (ties to the smallest label) over the lineitem part graph —
# the community-structure counterpart to q46's connected components
# and q86's k-core.  Fixed horizon keeps the result a deterministic
# function of the graph; the oracle unrolls the rounds with the
# identical (count DESC, label) argmax.
_LP_ROUNDS = 3


def q93_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.components import label_propagation

    return label_propagation(_lineitem_edges(spark, sf_dir), rounds=_LP_ROUNDS)


def _lp_oracle_sql(rounds: int) -> str:
    parts = [
        f"""
WITH raw AS (
  SELECT DISTINCT {_LINEITEM_EDGES_SQL}
),
e0 AS MATERIALIZED (
  SELECT src AS s, dst AS d FROM raw
  UNION
  SELECT dst AS s, src AS d FROM raw
),
lab0 AS (SELECT DISTINCT s AS vid, s AS label FROM e0)"""
    ]
    for i in range(rounds):
        parts.append(
            f""",
cnt{i} AS (
  SELECT e.d AS vid, l.label, count(*) AS c
  FROM e0 e JOIN lab{i} l ON e.s = l.vid GROUP BY 1, 2
),
lab{i + 1} AS MATERIALIZED (
  SELECT vid, label FROM (
    SELECT vid, label,
           row_number() OVER (PARTITION BY vid ORDER BY c DESC, label) AS rn
    FROM cnt{i}
  ) WHERE rn = 1
)"""
        )
    parts.append(
        f"""
SELECT CAST(vid AS BIGINT) AS vid, CAST(label AS BIGINT) AS label
FROM lab{rounds}
"""
    )
    return "".join(parts)


_Q93_SQL = _lp_oracle_sql(_LP_ROUNDS)


# Q94 weighted sample without replacement (operators/sampling.py:
# weighted_priority_sample): 100 documents drawn with probability
# proportional to a length-derived integer weight — priority = max of
# `weight` md5-uniforms (the Efraimidis-Spirakis u^(1/w) law in pure
# integer hashes), top-k wins.  Map-side priorities +
# TakeOrderedAndProject; nothing corpus-sized shuffles, and the draw
# reproduces on any engine or rerun.
_WS_K, _WS_DIV, _WS_CAP = 100, 64, 64


def q94_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import weighted_priority_sample

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(1) + (F.col("n_chars") / _WS_DIV).cast("long")).alias("wt"),
    )
    return weighted_priority_sample(
        docs, "doc_id", "wt", k=_WS_K, max_weight=_WS_CAP
    )


_Q94_SQL = f"""
WITH w AS (
  SELECT doc_id,
         LEAST(GREATEST(CAST(1 + n_chars // {_WS_DIV} AS BIGINT), 1),
               {_WS_CAP}) AS weight
  FROM documents
),
pri AS (
  SELECT doc_id, weight,
         list_max(list_transform(generate_series(1, weight),
           i -> ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                    || i::VARCHAR), 1, 15))::BIGINT))
           AS priority
  FROM w
)
SELECT doc_id, weight, priority FROM pri
ORDER BY priority DESC, doc_id LIMIT {_WS_K}
"""


# ---------------------------------------------------------------- q95-q102
# The remaining classic TPC-H join/subquery shapes absent from the
# catalog (the reference has no SQL layer at all — SURVEY §2.9 stops at
# its 13 declared jobs — so these are "beyond-reference" relational
# coverage like q14-q16/q48/q52/q53).  The testdata star schema has no
# partsupp table and no commit/receipt dates, so Q9/Q11/Q20/Q21 are
# adapted to lineitem-derivable equivalents; each docstring states the
# adaptation.  All money stays in exact integer cents per
# functions.exact.


# Q95 Two-sided dimension pair filter (TPC-H Q7 volume-shipping shape):
# revenue between two named nations by (supp_nation, cust_nation, year).
# Scale plan: both nation filters are applied to the 25-row dimension
# FIRST and propagate through broadcast joins onto supplier/customer,
# so lineitem — the 100 TB side — is filtered by two broadcast hash
# joins and never shuffled; the final rollup is a 4-group aggregate.
def q95_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    na = table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    su = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cu = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(rev).alias("revenue_cents"))
    )


_Q95_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""


# Q96 Product-type profit rollup (TPC-H Q9 shape).  Adaptation: the
# schema has no partsupp, so supply cost is proxied as
# 5% of p_retailprice per unit — the join/agg shape (part-name LIKE
# filter, 4-way join, nation x year rollup) is what's under test.
# Per-row profit is assembled products-first and rounded ONCE so both
# engines round the same double.
def q96_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pa = table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    su = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("p_retailprice") * F.col("l_quantity") * 0.05
        )
        * 100
    ).cast("long")
    return (
        li.join(F.broadcast(pa.select("p_partkey", "p_retailprice")), li.l_partkey == pa.p_partkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).alias("profit_cents"))
    )


_Q96_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(sum(CAST(ROUND((l_extendedprice * (1 - l_discount)
                            - p_retailprice * l_quantity * 0.05) * 100) AS BIGINT)) AS BIGINT) AS profit_cents
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


# Q97 Group-vs-global scalar subquery (TPC-H Q11 important-stock
# shape).  Adaptation (no partsupp): a part's "value" is its shipped
# retail value from lineitem.  The global total is a 1-row aggregate
# broadcast onto the per-part rows — Catalyst plans the scalar
# subquery as a broadcast nested-loop over one row, so the threshold
# costs nothing at any scale; lineitem is scanned once per branch and
# both branches reuse the same grouped base via a local checkpoint.
def q97_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    pa = table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    val = (
        F.round(F.col("p_retailprice") * F.col("l_quantity") * 100)
        .cast("long")
    )
    per_part = (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .groupBy("l_partkey")
        .agg(F.sum(val).alias("value_cents"))
        .localCheckpoint(eager=False)
    )
    total = per_part.groupBy().agg(
        (F.sum("value_cents").cast("double") * 0.0005).alias("__thresh")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("value_cents").cast("double") > F.col("__thresh"))
        .select("l_partkey", "value_cents")
    )


_Q97_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(ROUND(p_retailprice * l_quantity * 100) AS BIGINT)) AS BIGINT) AS value_cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT l_partkey, value_cents
FROM per_part
WHERE CAST(value_cents AS DOUBLE) >
      (SELECT CAST(sum(value_cents) AS DOUBLE) * 0.0005 FROM per_part)
"""


# Q98 Distinct-count with NOT-IN exclusion (TPC-H Q16
# supplier-variety shape): suppliers per (brand, type, size) bucket,
# excluding "complaint" suppliers (proxied as s_acctbal < 0 — the
# schema has no s_comment).  The exclusion is a broadcast LEFT ANTI
# join (100 rows), the part filter prunes before the join, and the
# distinct-count shuffles only (brand,type,size,suppkey) pairs.
def q98_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    bad = table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    pa = table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size") <= 25)
    )
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(
            F.broadcast(pa.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q98_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size <= 25
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


# Q99 Grouped-HAVING IN-subquery (TPC-H Q18 large-order shape):
# customers whose order totals more than 300 units.  The qualifying
# set is a grouped filter on lineitem alone (map-side partial sums);
# orders/customer join AFTER the 46-order survivor set, so at 100 TB
# the expensive side aggregates once and the joins move only
# survivors.  Quantities are integral by data contract — cast to long
# per row so the sum is order-independent.
def q99_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(od, big.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_micros("o_orderdate").alias("odate_us"),
            cents("o_totalprice").alias("totalprice_cents"),
            "sum_qty",
        )
    )


_Q99_SQL = """
SELECT c_custkey, c_name, o_orderkey, epoch_us(o_orderdate) AS odate_us,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
       sum_qty
FROM (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY 1 HAVING sum_qty > 300
)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# Q100 Disjunctive multi-bracket predicate (TPC-H Q19 shape): revenue
# from three (brand, size-range, quantity-range) brackets OR-ed
# together.  The whole predicate is a single codegen expression on the
# broadcast-joined pair — no union-of-three-scans; Catalyst pushes the
# common `p_size <= 35` envelope and the quantity envelope to the
# scans while evaluating the OR residual in one pass.
def q100_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    pa = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = table(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
    b1 = (
        (F.col("p_brand") == "Brand#12")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 11))
    )
    b2 = (
        (F.col("p_brand") == "Brand#23")
        & (F.col("p_size").between(1, 25))
        & (F.col("l_quantity").between(10, 20))
    )
    b3 = (
        (F.col("p_brand") == "Brand#4")
        & (F.col("p_size").between(1, 35))
        & (F.col("l_quantity").between(20, 30))
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        j.where(b1 | b2 | b3)
        .groupBy()
        .agg(
            F.sum(rev).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q100_SQL = """
SELECT CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


# Q101 Chained semi-join threshold (TPC-H Q20 excess-stock shape):
# suppliers who shipped more than half of a part's 1997 volume for any
# 'small%' part.  Adaptation (no partsupp availqty): the threshold is
# 50% of the part's total shipped quantity.  Shape: one grouped pass
# over the filtered lineitem produces BOTH the per-(supp,part) and
# per-part totals (the latter re-aggregated from the former, so the
# corpus-sized input is read and shuffled once), then a broadcast
# threshold join and a semi join up to supplier.
def q101_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    pa = table(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    li = (
        table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(pa.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
    )
    sp = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sp_qty"))
        .localCheckpoint(eager=False)
    )
    part_tot = sp.groupBy("l_partkey").agg(F.sum("sp_qty").alias("part_qty"))
    winners = (
        sp.join(F.broadcast(part_tot), "l_partkey")
        .where(
            F.col("sp_qty").cast("double")
            > F.col("part_qty").cast("double") * 0.5
        )
        .select("l_suppkey")
        .distinct()
    )
    su = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return su.join(
        winners, su.s_suppkey == winners.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


_Q101_SQL = """
WITH sp AS (
  SELECT l_suppkey, l_partkey,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sp_qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
),
part_tot AS (
  SELECT l_partkey, CAST(sum(sp_qty) AS BIGINT) AS part_qty FROM sp GROUP BY 1
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT DISTINCT l_suppkey
  FROM sp JOIN part_tot USING (l_partkey)
  WHERE CAST(sp_qty AS DOUBLE) > CAST(part_qty AS DOUBLE) * 0.5
)
"""


# Q102 Double-correlated EXISTS / NOT-EXISTS (TPC-H Q21
# waiting-supplier shape).  Adaptation (no receipt/commit dates): in
# every multi-supplier order, a supplier is "waiting" when it shipped
# at the order's latest ship date while some OTHER supplier shipped
# strictly earlier — the earlier shipment must belong to a different
# supplier, exactly TPC-H Q21's correlation.  Both correlations
# collapse into one window pass over per-(order, supplier) ship-date
# extremes: min-over-other-suppliers is reconstructed from the
# order's min, the count of suppliers achieving it, and the second
# distinct min (others_min = min1 unless THIS supplier holds min1
# alone, else min2) — so the plan is one (order, supplier) aggregate
# plus one orderkey-partitioned window, instead of a correlated
# re-scan per supplier.
def q102_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.min("l_shipdate").alias("__s_min"),
        F.max("l_shipdate").alias("__s_max"),
    )
    w = Window.partitionBy("l_orderkey")
    per = (
        per_os.withColumn("__max_ship", F.max("__s_max").over(w))
        .withColumn("__min1", F.min("__s_min").over(w))
        .withColumn("__n_supp", F.count(F.lit(1)).over(w))
        .withColumn(
            "__cnt_min",
            F.sum(
                F.when(F.col("__s_min") == F.col("__min1"), 1).otherwise(0)
            ).over(w),
        )
        .withColumn(
            "__min2",
            F.min(
                F.when(F.col("__s_min") > F.col("__min1"), F.col("__s_min"))
            ).over(w),
        )
    )
    others_min = F.when(
        (F.col("__s_min") > F.col("__min1")) | (F.col("__cnt_min") > 1),
        F.col("__min1"),
    ).otherwise(F.col("__min2"))
    waiting = (
        per.where(
            (F.col("__n_supp") > 1)
            & (F.col("__s_max") == F.col("__max_ship"))
            & (others_min < F.col("__max_ship"))
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    su = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return waiting.join(
        F.broadcast(su), waiting.l_suppkey == su.s_suppkey
    ).select("s_suppkey", "s_name", "numwait")


_Q102_SQL = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey,
         min(l_shipdate) AS s_min, max(l_shipdate) AS s_max
  FROM lineitem GROUP BY 1, 2
),
per1 AS (
  SELECT l_orderkey, l_suppkey, s_min, s_max,
         max(s_max) OVER (PARTITION BY l_orderkey) AS max_ship,
         min(s_min) OVER (PARTITION BY l_orderkey) AS min1,
         count(*) OVER (PARTITION BY l_orderkey) AS n_supp
  FROM per_os
),
per AS (
  SELECT *,
         sum(CASE WHEN s_min = min1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY l_orderkey) AS cnt_min,
         min(CASE WHEN s_min > min1 THEN s_min END)
           OVER (PARTITION BY l_orderkey) AS min2
  FROM per1
)
SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per JOIN supplier ON l_suppkey = s_suppkey
WHERE n_supp > 1 AND s_max = max_ship
  AND (CASE WHEN s_min > min1 OR cnt_min > 1 THEN min1 ELSE min2 END)
      < max_ship
GROUP BY 1, 2
"""


# Q103 Multi-source BFS hop distance (operators/components.bfs_hops):
# hop count from the seed set (every 50th part vertex) within 3
# undirected hops over the lineitem co-order graph.  Same superstep
# discipline as PageRank/label propagation — pre-partitioned persisted
# edges, shrinking frontier, one dedup exchange per round — and the
# oracle unrolls the identical 3 rounds as CTEs.
_BFS_ROUNDS, _BFS_SEED_MOD = 3, 50


def q103_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.components import bfs_hops

    edges = _lineitem_edges(spark, sf_dir)
    half = edges.select("src", "dst")
    verts = (
        half.select(F.col("src").alias("vid"))
        .unionByName(half.select(F.col("dst").alias("vid")))
        .distinct()
    )
    seeds = verts.where(F.col("vid") % _BFS_SEED_MOD == 0)
    return bfs_hops(edges, seeds, rounds=_BFS_ROUNDS)


def _bfs_oracle_sql(rounds: int, seed_mod: int) -> str:
    parts = [
        f"""
WITH raw AS (
  SELECT DISTINCT {_LINEITEM_EDGES_SQL}
),
e0 AS MATERIALIZED (
  SELECT src AS s, dst AS d FROM raw
  UNION
  SELECT dst AS s, src AS d FROM raw
),
h0 AS (
  SELECT vid, 0 AS hop FROM (SELECT DISTINCT s AS vid FROM e0)
  WHERE vid % {seed_mod} = 0
),
f0 AS (SELECT vid FROM h0)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
n{i} AS MATERIALIZED (
  SELECT vid, {i} AS hop FROM (
    SELECT DISTINCT e.d AS vid FROM e0 e JOIN f{i - 1} f ON e.s = f.vid
  )
  WHERE vid NOT IN (SELECT vid FROM h{i - 1})
),
h{i} AS MATERIALIZED (
  SELECT vid, hop FROM h{i - 1} UNION ALL SELECT vid, hop FROM n{i}
),
f{i} AS (SELECT vid FROM n{i})"""
        )
    parts.append(
        f"""
SELECT CAST(vid AS BIGINT) AS vid, CAST(hop AS INTEGER) AS hop FROM h{rounds}
"""
    )
    return "".join(parts)


_Q103_SQL = _bfs_oracle_sql(_BFS_ROUNDS, _BFS_SEED_MOD)


# Q104 Hashed-bag-of-words linear quality classifier (the fasttext-/
# DSIR-style scorer of large-scale curation stacks): token -> md5
# bucket (256 buckets) -> integer weight -> per-doc summed score and a
# keep/drop decision.  The weight table is a deterministic surrogate
# (Knuth-hash of the bucket id) because no trained model ships in this
# container — the ENGINE side under test is the hash-projection +
# grouped linear scoring plan, which is weight-agnostic: a real model
# swaps in as a 256-row broadcast join (or literal map) without
# changing the plan shape.  Everything is integer arithmetic on
# 60-bit md5 prefixes, so any engine reproduces the same scores.
def q104_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import hashed_linear_score

    docs = table(spark, sf_dir, "documents")
    return hashed_linear_score(docs, "doc_id", "text")


_Q104_SQL = f"""
SELECT doc_id,
       CAST(sum(w) AS BIGINT) AS score_milli,
       CAST(count(*) AS BIGINT) AS n_tokens,
       sum(w) > 0 AS pred_keep
FROM (
  SELECT doc_id,
         ((('0x' || substr(md5(tok), 1, 15))::BIGINT % 256)
          * 2654435761) % 1001 - 500 AS w
  FROM (SELECT doc_id, unnest({_TOK.format(col='text')}) AS tok
        FROM documents)
)
GROUP BY doc_id
"""


# Q105 Sweep-line interval concurrency (the "how many sessions were
# open at once" op of observability stacks): each user's activity span
# becomes a +1/-1 boundary pair, boundaries collapse per timestamp,
# and the running sum over time is the open-session count after each
# instant (half-open [start, end) semantics: a span ending at t is
# closed at t).  Scale shape: the event stream reduces to 2 boundaries
# per user in ONE keyed aggregate; the sweep itself runs over that
# boundary set — vertex-sized, never the corpus — through the
# distributed prefix sum (range shuffle + partition-local cumsum +
# broadcast offsets, operators/sort.py), so there is no global window
# at any size.  The oracle's plain windowed cumsum is the semantic
# spec the distributed form must equal.
def q105_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import concurrency_sweep

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    return concurrency_sweep(ev, "user_id", "ts_us")


_Q105_SQL = """
WITH spans AS (
  SELECT user_id, min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
  FROM events GROUP BY 1
),
bounds AS (
  SELECT ts_us, CAST(sum(d) AS BIGINT) AS net_delta FROM (
    SELECT lo AS ts_us, 1 AS d FROM spans
    UNION ALL
    SELECT hi AS ts_us, -1 AS d FROM spans
  ) GROUP BY 1
)
SELECT ts_us, net_delta,
       CAST(sum(net_delta) OVER (ORDER BY ts_us
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS open_sessions
FROM bounds
"""


# Q106 BPE tokenizer training (operators/bpe.py): learn 3 greedy
# best-pair merges from the corpus word-frequency table and return the
# trained symbol vocabulary with counts.  The oracle replays the
# identical algorithm — word table, pair counts, (count DESC, left,
# right) argmax, and the greedy left-to-right merge fold as a
# recursive CTE advancing one symbol per step — so every merge
# decision and the final distribution must agree exactly.
_BPE_MERGES = 3


def q106_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bpe import bpe_train

    docs = table(spark, sf_dir, "documents")
    _rules, vocab = bpe_train(docs, merges=_BPE_MERGES)
    return vocab


def _bpe_oracle_sql(merges: int) -> str:
    from .operators.bpe import BPE_MAX_WORD_LEN

    parts = [
        f"""
WITH RECURSIVE words AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_TOK.format(col='text')}) AS w FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) <= {BPE_MAX_WORD_LEN}
  GROUP BY w
),
s0 AS MATERIALIZED (
  SELECT word, cnt,
         list_transform(range(1, length(word) + 1),
                        i -> substr(word, i, 1)) AS syms
  FROM words
)"""
    ]
    for r in range(merges):
        parts.append(
            f""",
p{r} AS (
  SELECT u.a AS a, u.b AS b, sum(cnt) AS c FROM (
    SELECT cnt,
           unnest(list_transform(range(1, len(syms)),
                                 i -> {{'a': syms[i], 'b': syms[i + 1]}})) AS u
    FROM s{r})
  GROUP BY 1, 2
),
b{r} AS MATERIALIZED (SELECT a, b FROM p{r} ORDER BY c DESC, a, b LIMIT 1),
f{r} AS (
  SELECT word, cnt, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM s{r}
  UNION ALL
  SELECT word, cnt, syms, i + 1,
         CASE WHEN len(acc) > 0
                   AND acc[len(acc)] = (SELECT a FROM b{r})
                   AND syms[i] = (SELECT b FROM b{r})
              THEN list_append(acc[1:len(acc) - 1],
                               (SELECT a FROM b{r}) || (SELECT b FROM b{r}))
              ELSE list_append(acc, syms[i]) END
  FROM f{r} WHERE i <= len(syms)
),
s{r + 1} AS MATERIALIZED (
  SELECT word, cnt, acc AS syms FROM f{r} WHERE i = len(syms) + 1
)"""
        )
    parts.append(
        f"""
SELECT symbol, CAST(sum(cnt) AS BIGINT) AS total_cnt FROM (
  SELECT cnt, unnest(syms) AS symbol FROM s{merges}
) GROUP BY 1
"""
    )
    return "".join(parts)


_Q106_SQL = _bpe_oracle_sql(_BPE_MERGES)


# Q107 BM25 retrieval (operators/textstats.bm25_topk) over the q05
# inverted-index substrate: top-50 documents for a 3-term query.
# Rational-idf variant (no libm ln — see operator docstring); every
# fractional literal in the oracle is ::DOUBLE-cast because DuckDB
# parses bare decimals as DECIMAL, which would change the arithmetic.
_BM25_TERMS, _BM25_K = ["hash", "join", "scan"], 50


def q107_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import bm25_topk

    docs = table(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=_BM25_K)


_Q107_SQL = f"""
WITH postings AS (
  SELECT doc_id, w AS word, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_TOK.format(col='text')}) AS w FROM documents)
  GROUP BY 1, 2
),
doclen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM postings GROUP BY 1),
corpus AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sdl
           FROM doclen),
hits AS (SELECT * FROM postings
         WHERE word IN ('hash', 'join', 'scan')),
dfreq AS (SELECT word, CAST(count(*) AS BIGINT) AS dfq FROM hits GROUP BY 1),
scored AS (
  SELECT h.doc_id,
         CAST(ROUND(
           ((CAST(n AS DOUBLE) - CAST(dfq AS DOUBLE) + 0.5::DOUBLE)
              / (CAST(dfq AS DOUBLE) + 0.5::DOUBLE))
           * (CAST(tf AS DOUBLE) * 2.2::DOUBLE
              / (CAST(tf AS DOUBLE)
                 + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                                  + 0.75::DOUBLE * CAST(dl AS DOUBLE)
                                    * CAST(n AS DOUBLE) / CAST(sdl AS DOUBLE))))
           * 1000000.0::DOUBLE) AS BIGINT) AS m
  FROM hits h JOIN dfreq USING (word) JOIN doclen USING (doc_id), corpus
)
SELECT doc_id, CAST(sum(m) AS BIGINT) AS score_micro
FROM scored GROUP BY 1
ORDER BY score_micro DESC, doc_id LIMIT {_BM25_K}
"""


# Q108 One-pass table profiling (operators/stats.profile_table): the
# pre-training data-quality report — per column nulls, exact distinct
# count, min/max — over the events table, every numeric canonicalized
# to the repo's exact-integer domains so min/max stringify identically
# on any engine.
def q108_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.stats import profile_table

    ev = table(spark, sf_dir, "events")
    return profile_table(
        ev,
        long_cols={
            "event_id": F.col("event_id"),
            "user_id": F.col("user_id"),
            "value_cents": cents("value"),
            "ts_us": F.unix_micros("ts"),
        },
        str_cols=["event_type", "props"],
    )


_Q108_SQL = """
WITH base AS (
  SELECT event_id, user_id,
         CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
         epoch_us(ts) AS ts_us, event_type, props
  FROM events
)
SELECT 'event_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(min(event_id) AS VARCHAR) AS min_v, CAST(max(event_id) AS VARCHAR) AS max_v
FROM base
UNION ALL
SELECT 'user_id', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT user_id) AS BIGINT),
       CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
FROM base
UNION ALL
SELECT 'value_cents', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN value_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT value_cents) AS BIGINT),
       CAST(min(value_cents) AS VARCHAR), CAST(max(value_cents) AS VARCHAR)
FROM base
UNION ALL
SELECT 'ts_us', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN ts_us IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT ts_us) AS BIGINT),
       CAST(min(ts_us) AS VARCHAR), CAST(max(ts_us) AS VARCHAR)
FROM base
UNION ALL
SELECT 'event_type', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT event_type) AS BIGINT),
       min(event_type), max(event_type)
FROM base
UNION ALL
SELECT 'props', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT props) AS BIGINT),
       min(props), max(props)
FROM base
"""


# Q109 Fuzzy entity matching (deletion-neighborhood edit-distance
# self-join): the record-linkage step of any dimension-cleanup
# pipeline, on supplier names.  Blocking = the FastSS / SymSpell
# deletion neighborhood: every name emits itself plus each
# single-character-deletion variant as an equi-join key.  Any pair
# with lev(a,b) <= 1 MUST share a key (substitution -> delete the
# differing position from both; insertion/deletion -> the shorter
# string is itself a deletion of the longer; equality -> the string
# itself), so an equi hash join on the key is a complete candidate
# generator; shared keys only bound lev <= 2, so the exact
# Levenshtein residual filters — both engines ship the standard DP
# edit distance as a built-in, so the score is engine-exact.  The
# expansion is len(name)+1 keys per row (linear), keys are
# near-unique strings (no hot bucket even when every name has the
# same length, where a length-band block would degenerate to
# all-pairs), and the plan is a hash equi-join — no
# BroadcastNestedLoopJoin, no n^2 levenshtein calls.  At 100x the
# dimension this stays (n * len) build size with per-key candidate
# lists of O(1).
def q109_fuzzy_supplier_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    su = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    one = F.lit(1)
    deletions = F.transform(
        F.sequence(one, F.length("s_name")),
        lambda i: F.concat(
            F.substr(F.col("s_name"), one, i - one),
            F.substr(F.col("s_name"), i + one, F.length("s_name")),
        ),
    )
    keyed = su.select(
        "s_suppkey",
        "s_name",
        F.explode(
            F.array_distinct(
                F.concat(F.array(F.col("s_name")), deletions)
            )
        ).alias("__blk"),
    )
    a = keyed.select(
        F.col("s_suppkey").alias("a_key"),
        F.col("s_name").alias("a_name"),
        "__blk",
    )
    b = keyed.select(
        F.col("s_suppkey").alias("b_key"),
        F.col("s_name").alias("b_name"),
        "__blk",
    )
    return (
        a.join(b, "__blk")
        .where(F.col("a_key") < F.col("b_key"))
        .select("a_key", "a_name", "b_key", "b_name")
        .distinct()  # a pair can share several deletion keys
        .where(F.levenshtein("a_name", "b_name") <= 1)
        .select(
            "a_key", "b_key", F.levenshtein("a_name", "b_name").alias("lev")
        )
    )


_Q109_SQL = """
SELECT a.s_suppkey AS a_key, b.s_suppkey AS b_key,
       CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS lev
FROM supplier a JOIN supplier b
  ON a.s_suppkey < b.s_suppkey
 AND abs(length(a.s_name) - length(b.s_name)) <= 1
WHERE levenshtein(a.s_name, b.s_name) <= 1
"""


# Q110 Marketing attribution (first-touch + last-touch): every
# purchase attributed to the user's first and most recent
# view/click strictly before it.  BOTH models fall out of ONE window
# pass over the per-user event timeline (conditional first/last with
# IGNORE NULLS over unbounded-preceding..-1) — no per-conversion
# as-of join cascade; one shuffle on the user key, total order
# (ts, event_id) so ties reproduce.
_TOUCH_TYPES = ("view", "click")


def q110_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
    )
    touch = F.when(
        F.col("event_type").isin(*_TOUCH_TYPES), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.withColumn("first_touch", F.first(touch, ignorenulls=True).over(w))
        .withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts_us", "first_touch", "last_touch")
    )


_Q110_SQL = """
SELECT event_id, user_id, ts_us, first_touch, last_touch FROM (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
         first_value(CASE WHEN event_type IN ('view', 'click')
                          THEN event_type END IGNORE NULLS) OVER w AS first_touch,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN event_type END IGNORE NULLS) OVER w AS last_touch
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
WHERE event_type = 'purchase'
"""


# Q111 Batch BM25 for a query TABLE (operators/textstats.
# bm25_topk_multi) — the RAG-corpus retrieval shape: 3 queries scored
# against every candidate in one pass, per-query top-20 via a
# query-partitioned window (no global sort).  Query terms broadcast;
# the (term, df) aggregate is shared across queries.
_BM25_QUERIES = [
    (1, "hash"), (1, "join"),
    (2, "scan"), (2, "filter"),
    (3, "merge"), (3, "sort"), (3, "batch"),
]
_BM25_MULTI_K = 20


def q111_bm25_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import bm25_topk_multi

    docs = table(spark, sf_dir, "documents")
    qs = spark.createDataFrame(_BM25_QUERIES, "query_id long, term string")
    return bm25_topk_multi(
        docs, "doc_id", "text", qs, "query_id", "term", k=_BM25_MULTI_K
    )


_Q111_SQL = f"""
WITH qs(query_id, word) AS (
  VALUES {", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)}
),
postings AS (
  SELECT doc_id, w AS word, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_TOK.format(col='text')}) AS w FROM documents)
  GROUP BY 1, 2
),
doclen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM postings GROUP BY 1),
corpus AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sdl
           FROM doclen),
hits AS (SELECT * FROM postings WHERE word IN (SELECT word FROM qs)),
dfreq AS (SELECT word, CAST(count(*) AS BIGINT) AS dfq FROM hits GROUP BY 1),
scored AS (
  SELECT CAST(q.query_id AS BIGINT) AS query_id, h.doc_id,
         CAST(sum(CAST(ROUND(
           ((CAST(n AS DOUBLE) - CAST(dfq AS DOUBLE) + 0.5::DOUBLE)
              / (CAST(dfq AS DOUBLE) + 0.5::DOUBLE))
           * (CAST(tf AS DOUBLE) * 2.2::DOUBLE
              / (CAST(tf AS DOUBLE)
                 + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                                  + 0.75::DOUBLE * CAST(dl AS DOUBLE)
                                    * CAST(n AS DOUBLE) / CAST(sdl AS DOUBLE))))
           * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS score_micro
  FROM hits h JOIN qs q USING (word) JOIN dfreq USING (word)
  JOIN doclen USING (doc_id), corpus
  GROUP BY 1, 2
)
SELECT query_id, doc_id, score_micro, CAST(rn AS INTEGER) AS rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score_micro DESC, doc_id) AS rn
  FROM scored
) WHERE rn <= {_BM25_MULTI_K}
"""


# Q112 Local clustering coefficient (operators/components.
# local_clustering_coefficient): per-vertex lcc = 2*t(v)/(deg*(deg-1))
# in ppm over the lineitem co-order graph — triangles credited to all
# three corners (unlike q68's smallest-corner attribution).  Exact
# longs everywhere except ONE double division of two
# exactly-representable integers, so the ppm rounds identically on
# any IEEE engine.
def q112_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.components import local_clustering_coefficient

    return local_clustering_coefficient(_lineitem_edges(spark, sf_dir))


_Q112_SQL = f"""
WITH raw AS (
  SELECT {_LINEITEM_EDGES_SQL}
),
e AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE src <> dst
),
tris AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT unnest([a, b, c]) AS vid FROM tris
),
per_vertex AS (
  SELECT vid, CAST(count(*) AS BIGINT) AS n_tri FROM corners GROUP BY 1
),
deg AS (
  SELECT vid, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS vid FROM e UNION ALL SELECT b AS vid FROM e
  ) GROUP BY 1
)
SELECT CAST(d.vid AS BIGINT) AS vid, d.deg,
       CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_tri,
       CAST(ROUND(CAST(COALESCE(p.n_tri, 0) * 2000000 AS DOUBLE)
                  / CAST(d.deg * (d.deg - 1) AS DOUBLE)) AS BIGINT) AS lcc_ppm
FROM deg d LEFT JOIN per_vertex p ON d.vid = p.vid
WHERE d.deg >= 2
"""


# Q113 Per-user exponential smoothing (operators/temporal.
# ewma_halving): s_i = (x_i + s_{i-1})/2 over each user's value
# stream.  lambda = 1/2 on purpose: halving is exact binary scaling,
# so the sequential recursion reproduces bit-for-bit on any IEEE
# engine (general lambdas would drift in the last ulp).  The oracle
# replays the identical fold as a recursive CTE advancing one event
# per step, all users in lockstep.
def q113_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import ewma_halving

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        cents("value").alias("value_cents"),
    )
    return ewma_halving(ev, "user_id", "ts_us", "event_id", "value_cents")


_Q113_SQL = """
WITH RECURSIVE evs AS (
  SELECT user_id,
         array_agg(struct_pack(ts := epoch_us(ts), eid := event_id,
                               x := CAST(ROUND(value * 100) AS BIGINT))
                   ORDER BY epoch_us(ts), event_id) AS es
  FROM events GROUP BY 1
),
f AS (
  SELECT user_id, es, 1 AS i,
         CAST(NULL AS DOUBLE) AS s,
         CAST(NULL AS BIGINT) AS ts, CAST(NULL AS BIGINT) AS eid
  FROM evs
  UNION ALL
  SELECT user_id, es, i + 1,
         CASE WHEN s IS NULL THEN CAST(es[i].x AS DOUBLE)
              ELSE (CAST(es[i].x AS DOUBLE) + s) / 2.0::DOUBLE END,
         es[i].ts, es[i].eid
  FROM f WHERE i <= len(es)
)
SELECT user_id, eid AS event_id, ts AS ts_us,
       CAST(ROUND(s * 1000000.0::DOUBLE) AS BIGINT) AS ewma_micro
FROM f WHERE eid IS NOT NULL
"""


# Q114 Behavioral transition matrix (first-order Markov estimate):
# per-user event bigrams via one lag window, then (from, to) counts
# and the per-source transition probability in ppm.  The probability
# is ONE IEEE division of exact counts — engine-identical rounding.
# One user-key shuffle + one (from, to) aggregate; the per-source
# totals re-aggregate from the transition counts (transition-matrix-
# sized, not corpus-sized).
def q114_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("__tot"))
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double")
            * F.lit(1_000_000.0)
            / F.col("__tot").cast("double")
        )
        .cast("long")
        .alias("p_ppm"),
    )


_Q114_SQL = """
WITH pairs AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS next_type
    FROM events
  )
  WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
totals AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM pairs GROUP BY 1
)
SELECT from_type, to_type, n,
       CAST(ROUND(CAST(n AS DOUBLE) * 1000000.0::DOUBLE
                  / CAST(tot AS DOUBLE)) AS BIGINT) AS p_ppm
FROM pairs JOIN totals USING (from_type)
"""


# ------------------------------------------------------------ q115-q118
# TPC-H completion: the four remaining classic shapes (Q6 scan-agg,
# Q12 conditional mode counts, Q14 promo share, Q15 argmax-with-ties)
# — with q14/q48/q52/q53/q95-q102 this covers all 22 TPC-H query
# shapes the schema can express (adaptations per docstring: no
# l_shipmode/commitdate, so Q12 proxies mode with l_returnflag).


# Q115 (TPC-H Q6 shape): pure scan-side predicate revenue — the
# filter must reach the parquet scan (no join, no window; the plan IS
# the pushdown).
def q115_filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    rev = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 100
    ).cast("long")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .groupBy()
        .agg(
            F.sum(rev).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q115_SQL = """
SELECT CAST(sum(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05::DOUBLE AND l_discount <= 0.07::DOUBLE
  AND l_quantity < 24
"""


# Q116 (TPC-H Q12 shape): conditional priority counts per shipping
# class.  Adaptation: the schema has no l_shipmode, so l_returnflag
# is the class proxy; the load-bearing shape — join + two conditional
# aggregates in one pass — is unchanged.
def q116_priority_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            # F.when(...).otherwise: a NULL priority buckets as low,
            # identical to the oracle's CASE (sum of (~high).cast
            # would skip the NULL row entirely and diverge)
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_priority"),
        )
    )


_Q116_SQL = """
SELECT l_returnflag AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_priority
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY 1
"""


# Q117 (TPC-H Q14 shape): promotion revenue share — ratio of two
# exact cents sums, ONE IEEE division rounded to ppm.
def q117_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    pa = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    agg = (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .groupBy()
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0)).alias(
                "promo_cents"
            ),
            F.sum(rev).alias("total_cents"),
        )
    )
    return agg.select(
        "promo_cents",
        "total_cents",
        F.round(
            F.col("promo_cents").cast("double")
            * F.lit(1_000_000.0)
            / F.col("total_cents").cast("double")
        )
        .cast("long")
        .alias("promo_ppm"),
    )


_Q117_SQL = """
WITH agg AS (
  SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS promo_cents,
         CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-07-01'
)
SELECT promo_cents, total_cents,
       CAST(ROUND(CAST(promo_cents AS DOUBLE) * 1000000.0::DOUBLE
                  / CAST(total_cents AS DOUBLE)) AS BIGINT) AS promo_ppm
FROM agg
"""


# Q118 (TPC-H Q15 shape): top supplier(s) by windowed revenue — the
# argmax-with-ties view pattern: per-supplier aggregate, 1-row max
# broadcast back, equality filter keeps ALL tied winners (exact longs,
# so the tie decision is engine-identical).
def q118_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    per_supp = li.groupBy("l_suppkey").agg(F.sum(rev).alias("total_cents"))
    best = per_supp.groupBy().agg(F.max("total_cents").alias("__best"))
    su = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.crossJoin(F.broadcast(best))
        .where(F.col("total_cents") == F.col("__best"))
        .join(F.broadcast(su), F.col("l_suppkey") == su.s_suppkey)
        .select("s_suppkey", "s_name", "total_cents")
    )


_Q118_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_cents
FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
WHERE total_cents = (SELECT max(total_cents) FROM per_supp)
"""


# Q119 Mergeable histogram quantile sketch (operators/sketches.
# histogram_quantiles): the O(bins) scale path next to q42's exact
# percentile_disc — at most n_bins counter rows per group shuffle no
# matter the group cardinality, counters merge by addition, and every
# estimate is a deterministic integer bin upper bound (no floats, no
# interpolation).
_HQ_BIN_W, _HQ_BINS = 100_000, 128


def q119_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import histogram_quantiles

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", cents("l_extendedprice").alias("__c")
    )
    return histogram_quantiles(
        li, ["l_returnflag"], "__c", bin_width=_HQ_BIN_W, n_bins=_HQ_BINS
    )


_Q119_SQL = f"""
WITH counts AS (
  SELECT l_returnflag,
         LEAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) // {_HQ_BIN_W},
               {_HQ_BINS - 1}) AS bin,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, bin, c,
         sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY l_returnflag) AS n
  FROM counts
)
SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
       CAST(min(CASE WHEN cum >= (n * 50 + 99) // 100
                     THEN (bin + 1) * {_HQ_BIN_W} END) AS BIGINT) AS p50_ub,
       CAST(min(CASE WHEN cum >= (n * 95 + 99) // 100
                     THEN (bin + 1) * {_HQ_BIN_W} END) AS BIGINT) AS p95_ub,
       CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100
                     THEN (bin + 1) * {_HQ_BIN_W} END) AS BIGINT) AS p99_ub
FROM cum GROUP BY 1
"""


# Q120 Sequence-completeness audit (data-quality family with q108's
# profiler): orders whose line numbers are not exactly 1..n — gaps,
# duplicates, or offset starts.  One keyed aggregate; the three
# integrity predicates (count, min, max, distinct) collapse into a
# single pass.
def q120_lineno_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("l_linenumber").alias("n_distinct"),
        F.min("l_linenumber").cast("long").alias("min_ln"),
        F.max("l_linenumber").cast("long").alias("max_ln"),
    )
    return per.where(
        (F.col("min_ln") != 1)
        | (F.col("max_ln") != F.col("n_lines"))
        | (F.col("n_distinct") != F.col("n_lines"))
    )


_Q120_SQL = """
SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(DISTINCT l_linenumber) AS BIGINT) AS n_distinct,
       CAST(min(l_linenumber) AS BIGINT) AS min_ln,
       CAST(max(l_linenumber) AS BIGINT) AS max_ln
FROM lineitem
GROUP BY 1
HAVING min(l_linenumber) <> 1
    OR CAST(max(l_linenumber) AS BIGINT) <> count(*)
    OR count(DISTINCT l_linenumber) <> count(*)
"""


# Q121 Referential-integrity audit: orphan counts along every edge of
# the star schema in one report — each edge is a broadcast/shuffled
# LEFT ANTI join reduced to a 1-row aggregate, unioned into a fixed
# 4-row LAZY relation (constant-size output at any scale; nothing
# executes at construction time, so plan tooling can build the entry
# without triggering four full jobs).  NULL foreign keys are excluded
# from every edge in both engines: a NULL key is a missing-value
# problem (q108's profiler counts those), not a dangling reference —
# and Spark's left_anti would count it as an orphan while SQL's NOT IN
# would silently drop the whole count, so the guard is also what makes
# the two formulations agree.
def q121_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    pa = table(spark, sf_dir, "part")
    su = table(spark, sf_dir, "supplier")

    def orphans(child, col, parent, pcol, edge):
        return (
            child.where(F.col(col).isNotNull())
            .join(parent.select(pcol), child[col] == parent[pcol], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(edge).alias("edge"), "n_orphans")
        )

    parts = [
        orphans(li, "l_orderkey", od, "o_orderkey", "lineitem->orders"),
        orphans(li, "l_partkey", pa, "p_partkey", "lineitem->part"),
        orphans(li, "l_suppkey", su, "s_suppkey", "lineitem->supplier"),
        orphans(od, "o_custkey", cu, "c_custkey", "orders->customer"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_Q121_SQL = """
SELECT 'lineitem->orders' AS edge, CAST(count(*) AS BIGINT) AS n_orphans
FROM lineitem WHERE l_orderkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
UNION ALL
SELECT 'lineitem->part', CAST(count(*) AS BIGINT)
FROM lineitem WHERE l_partkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
UNION ALL
SELECT 'lineitem->supplier', CAST(count(*) AS BIGINT)
FROM lineitem WHERE l_suppkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
UNION ALL
SELECT 'orders->customer', CAST(count(*) AS BIGINT)
FROM orders WHERE o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
"""


# Q122 Ordered sequence assembly (the training-export shape for
# behavior/sequence models): each user's first 20 events, time-ordered,
# joined into one path string.  One key shuffle; the per-user cap is a
# row_number prune BEFORE the assembly, so a pathological key
# contributes at most 20 rows to the collect — the unbounded-key guard
# any sequence export needs.  The path is a '|'-joined string so the
# cross-engine compare is a plain string equality.
_PATH_CAP = 20


def q122_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= _PATH_CAP)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("path_len"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("__rn", F.col("event_type").alias("t"))
                        )
                    ),
                    lambda s: s["t"],
                ),
                "|",
            ).alias("path"),
        )
    )


_Q122_SQL = f"""
SELECT user_id, CAST(count(*) AS BIGINT) AS path_len,
       string_agg(event_type, '|' ORDER BY ts_us, event_id) AS path
FROM (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
)
WHERE rn <= {_PATH_CAP}
GROUP BY 1
"""


# Q123 Grouped mode with deterministic tie-break: the most frequent
# order priority per market segment.  The argmax is
# max(struct(cnt, priority)) over the (segment, priority) counts — a
# PARTIAL-AGGREGATABLE expression (the q93 celebrity-vertex
# discipline), so no per-group sort and no row_number window; ties
# break to the lexicographically LARGEST priority inside the struct
# max, stated and mirrored in the oracle.
def q123_segment_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    od = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    counts = (
        od.join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.groupBy("c_mktsegment")
        .agg(
            F.max(
                F.struct(F.col("n"), F.col("o_orderpriority").alias("p"))
            ).alias("__best")
        )
        .select(
            "c_mktsegment",
            F.col("__best.p").alias("mode_priority"),
            F.col("__best.n").alias("n_orders"),
        )
    )


_Q123_SQL = """
WITH counts AS (
  SELECT c_mktsegment, o_orderpriority, CAST(count(*) AS BIGINT) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT c_mktsegment, o_orderpriority AS mode_priority, n AS n_orders
FROM (
  SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                               ORDER BY n DESC, o_orderpriority DESC) AS rn
  FROM counts
) WHERE rn = 1
"""


# Q124 Global decile bucketing of entities by spend — the
# whole-population quantile assignment (mixture tiers, ability
# grouping) WITHOUT ntile's single-partition window: the distributed
# rank (range shuffle + partition-local row_number + broadcast
# offsets) feeds an explicit floor((rank-1)*10/n) bucket formula that
# any engine reproduces exactly (ntile's remainder-distribution rule
# is engine-specific; the formula is not).
def q124_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders")
    spend = od.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("spend_cents")
    )
    ranked = with_global_rank(
        spend, ["spend_cents", "o_custkey"], rank_col="__r"
    )
    n = spend.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "o_custkey",
            "spend_cents",
            F.floor((F.col("__r") - 1) * 10 / F.col("__n"))
            .cast("int")
            .alias("decile"),
        )
    )


_Q124_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents
  FROM orders GROUP BY 1
)
SELECT o_custkey, spend_cents,
       CAST((row_number() OVER (ORDER BY spend_cents, o_custkey) - 1) * 10
            // (SELECT count(*) FROM spend) AS INTEGER) AS decile
FROM spend
"""


# Q125 Video frame sampling (operators/multimodal.py: frame_sample):
# each document becomes a deterministic concatenated-P6 video
# (ppm_video_from_documents — frame bytes from md5 digests, like
# q78's images), the engine WALKS the container at exact frame
# boundaries and DECODES every 2nd frame; the oracle re-derives each
# sampled frame's integer pixel sum and fixed-stride offset from the
# same md5 bytes in SQL — so the frame walker and per-frame decode
# are both oracle-checked end-to-end.  Frames never leave the
# executor; only (id, frame, offset, sum) rows shuffle.
_VID_W, _VID_H, _VID_FRAMES, _VID_STEP = 8, 6, 4, 2
# header "P6\n8 6\n255\n" = 11 bytes + w*h*3 data
_VID_FRAME_LEN = 11 + _VID_W * _VID_H * 3


def q125_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import frame_sample, ppm_video_from_documents

    docs = table(spark, sf_dir, "documents")
    media = ppm_video_from_documents(
        docs, width=_VID_W, height=_VID_H, frames=_VID_FRAMES
    )
    return frame_sample(media, frame_step=_VID_STEP).select(
        F.col("id").alias("doc_id"),
        "frame_idx",
        F.col("offset").alias("frame_offset"),
        "gray_sum",
    )


_Q125_SQL = f"""
WITH fb AS (
  SELECT d.doc_id, fr.f, g.i,
         ('0x' || substr(md5(d.text || '-f' || CAST(fr.f AS VARCHAR)
                          || '-' || CAST(g.i // 16 AS VARCHAR)),
                         2 * (g.i % 16) + 1, 2))::BIGINT AS v
  FROM documents d,
       (SELECT unnest(range(0, {_VID_FRAMES}, {_VID_STEP})) AS f) fr,
       generate_series(0, {_VID_W * _VID_H * 3 - 1}) g(i)
)
SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
       CAST(f * {_VID_FRAME_LEN} AS BIGINT) AS frame_offset,
       CAST(SUM(v) AS BIGINT) AS gray_sum
FROM fb GROUP BY 1, 2, 3
"""


# Q125b MJPEG frame walk + T.81 decode, driver-gated end-to-end
# (operators/multimodal.py: mjpeg_video_from_documents(flat=True) ->
# frame_sample -> walk_mjpeg_stream + decode_jpeg; exercises the 4:2:0
# subsampling and restart-marker decoder paths too).  Flat frames make
# the lossy codec's decode closed-form (see the operator docstring):
# each decoded frame is EXACTLY its constant even gray value, so
# gray_sum == w*h*3 * v_f with v_f = 2*(md5(text||'-f'||f)[0] % 128)
# and the oracle re-derives every decoded sum without modeling JPEG.
# Frame OFFSETS are entropy-coded byte lengths (not SQL-derivable) and
# are deliberately not part of this gate — the unit tests pin them.
_MJPEG_W, _MJPEG_H, _MJPEG_FRAMES, _MJPEG_STEP = 16, 16, 4, 2


def q125b_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import (
        frame_sample,
        mjpeg_video_from_documents,
        spread_decode_input,
    )

    # The documents parquet is a single split at gate scales; without
    # a spread the per-frame Python decode serializes on one task.
    # spread_decode_input only repartitions UP (16-task floor, see its
    # docstring) so a wide 100x input is never throttled down.
    docs = spread_decode_input(table(spark, sf_dir, "documents"))
    media = mjpeg_video_from_documents(
        docs,
        width=_MJPEG_W,
        height=_MJPEG_H,
        frames=_MJPEG_FRAMES,
        subsample=(2, 2),
        restart_interval=2,
        flat=True,
    )
    return frame_sample(media, frame_step=_MJPEG_STEP).select(
        F.col("id").alias("doc_id"), "frame_idx", "gray_sum"
    )


_Q125B_SQL = f"""
SELECT doc_id, CAST(fr.f AS BIGINT) AS frame_idx,
       CAST({_MJPEG_W * _MJPEG_H * 3} * 2
            * (('0x' || substr(md5(text || '-f' || CAST(fr.f AS VARCHAR)),
                               1, 2))::BIGINT % 128)
         AS BIGINT) AS gray_sum
FROM documents,
     (SELECT unnest(range(0, {_MJPEG_FRAMES}, {_MJPEG_STEP})) AS f) fr(f)
"""


# Q126 Same-nation 6-way join (TPC-H Q5 local-supplier-volume shape):
# revenue per nation where the ordering customer and the line's
# supplier share a nation, within one region and order-date year.
# Scale plan: region -> nation -> supplier/customer are broadcast
# chains; the same-nation correlation becomes an equi condition on
# the two broadcast-derived nation keys, so lineitem joins orders on
# the orderkey (the only fact-fact shuffle) and everything else is
# map-side.
def q126_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    re_ = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    na = (
        table(spark, sf_dir, "nation")
        .join(F.broadcast(re_), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    su = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("s_nationkey").alias("__sn"), "n_name")
    )
    cu = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("c_nationkey").alias("__cn"))
    )
    od = (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .where(F.col("__sn") == F.col("__cn"))
        .groupBy("n_name")
        .agg(F.sum(rev).alias("revenue_cents"))
    )


_Q126_SQL = """
SELECT n_name,
       CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY 1
"""


# Q127 Market-share ratio (TPC-H Q8 shape): of all STANDARD-part
# revenue delivered to EUROPE-region customers per order year, the
# ppm share supplied by the target nation.  Both the numerator
# (conditional sum) and the denominator fall out of ONE grouped
# aggregate over the joined facts; the share is a single IEEE
# division of two exact cents longs rounded to ppm, so both engines
# round the same double.
def q127_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    re_ = table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    cna = (
        table(spark, sf_dir, "nation")
        .join(F.broadcast(re_), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey")
    )
    cu = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(cna), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    sna = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("__snk"), F.col("n_name").alias("supp_nation")
    )
    su = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(sna), F.col("s_nationkey") == F.col("__snk"))
        .select("s_suppkey", "supp_nation")
    )
    pa = table(spark, sf_dir, "part").where(
        F.col("p_type") == "STANDARD"
    ).select("p_partkey")
    od = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    li = table(spark, sf_dir, "lineitem")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    grouped = (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(0)
            ).alias("__target"),
            F.sum(rev).alias("__total"),
        )
    )
    share = F.round(
        F.col("__target").cast("double")
        / F.col("__total").cast("double")
        * 1_000_000
    ).cast("long")
    return grouped.select("o_year", share.alias("share_ppm"))


_Q127_SQL = """
WITH j AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  WHERE p_type = 'STANDARD' AND r_name = 'EUROPE'
)
SELECT o_year,
       CAST(ROUND(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END) AS DOUBLE)
                  / CAST(sum(rev) AS DOUBLE) * 1000000) AS BIGINT) AS share_ppm
FROM j GROUP BY 1
"""


# Q128 Returned-item top customers (TPC-H Q10 shape): the 20
# customers losing the most revenue to returns (l_returnflag = 'R')
# among orders placed in 1996Q4.  The order-date filter prunes orders
# BEFORE the fact join; customer/nation broadcast onto the grouped
# result (group first, join dims after — the aggregate shrinks the
# relation to customer cardinality, so the dim join touches grouped
# rows, not raw lineitems); top-20 compiles to TakeOrderedAndProject
# under a (revenue desc, custkey) total order.
def q128_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    na = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    od = (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(rev).alias("revenue_cents"))
        .join(F.broadcast(cu), F.col("o_custkey") == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue_cents")
        .orderBy(F.col("revenue_cents").desc(), "c_custkey")
        .limit(20)
    )


_Q128_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue_cents DESC, c_custkey
LIMIT 20
"""


# Q129 Sales-opportunity audit (TPC-H Q22 shape, adapted twice: the
# schema has no phone, so the "country code" is the customer's
# nation; and the synthetic data gives every customer at least one
# order, so "never ordered" becomes "no order since 2000-01-01" —
# same correlated NOT EXISTS, non-degenerate result).  Nations'
# count + balance of above-average-balance lapsed customers.  The
# positive-balance average is a 1-row scalar aggregate broadcast as
# a plan literal; the lapse test is a LEFT ANTI join against the
# date-pruned orders — no correlated re-scan per customer.
def q129_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    na = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    avg_pos = (
        cu.where(F.col("c_acctbal") > 0)
        .groupBy()
        .agg(F.avg("c_acctbal").alias("__avg"))
    )
    od = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    bal = F.round(F.col("c_acctbal") * 100).cast("long")
    return (
        cu.crossJoin(F.broadcast(avg_pos))
        .where(F.col("c_acctbal") > F.col("__avg"))
        .join(od, cu.c_custkey == od.o_custkey, "left_anti")
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal).alias("totacctbal_cents"),
        )
    )


_Q129_SQL = """
SELECT n_name AS cntrycode, CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_cents
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
"""


# Q130 Variant-typed JSON analytics (Spark 4 native semi-structured
# path): ``parse_json`` converts props to a binary VariantType ONCE
# per row, and every extraction is a typed ``variant_get`` over that
# parsed value — vs q28's get_json_object, which re-parses the JSON
# string per extracted field.  At 100 TB with many extracted fields
# the single-parse + shredded-binary representation is the plan you
# want; semantics stay oracle-exact (DuckDB extracts the same
# integers from the same JSON).
def q130_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.parse_json(F.col("props")).alias("__v")
    )
    k = F.variant_get(F.col("__v"), "$.k", "long")
    missing = F.variant_get(F.col("__v"), "$.absent", "long")
    return (
        ev.select(F.col("event_type"), k.alias("__k"), missing.alias("__m"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("__k").alias("n_with_k"),
            F.sum("__k").alias("sum_k"),
            F.count("__m").alias("n_with_absent"),
        )
    )


_Q130_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_with_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(count(CAST(json_extract_string(props, '$.absent') AS BIGINT)) AS BIGINT) AS n_with_absent
FROM events GROUP BY event_type
"""


# Q131 k-anonymity suppression (privacy-side curation, with q62's PII
# scrub): release only customers whose quasi-identifier combination
# (nation, market segment) is shared by >= k rows, and report each
# released group's size — the suppression step of a k-anonymous data
# release.  Rows in too-small groups are SUPPRESSED (dropped), the
# standard fallback when generalization hierarchies aren't defined.
# Plan shape: the group sizes come from a partial-aggregated groupBy
# (quasi-identifier cardinality is tiny by definition — that is WHY
# the groups are k-anonymous), broadcast back onto the fact rows — a
# window count over the same key would funnel every member of a
# quasi-group through one task, the classic skew trap when a group
# holds a corpus-scale share of rows.
_KANON_K = 5


def q131_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    sizes = (
        cu.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .where(F.col("group_size") >= _KANON_K)
    )
    return cu.join(
        F.broadcast(sizes), ["c_nationkey", "c_mktsegment"]
    ).select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        "group_size",
        F.round(F.col("c_acctbal") * 100).cast("long").alias(
            "acctbal_cents"
        ),
    )


_Q131_SQL = f"""
SELECT c_custkey, c_nationkey, c_mktsegment,
       CAST(group_size AS BIGINT) AS group_size,
       CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM (
  SELECT *, count(*) OVER (PARTITION BY c_nationkey, c_mktsegment)
              AS group_size
  FROM customer
)
WHERE group_size >= {_KANON_K}
"""


# Q132 Hard-negative mining over the labeled embeddings: for each
# anchor, the top-k most-cosine-similar vectors with a DIFFERENT label
# — the contrastive-training mining step.  The anchor set broadcasts;
# the corpus streams with no shuffle.  See
# operators/similarity.py: hard_negative_topk.
_HARDNEG_K = 5


def q132_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import hard_negative_topk

    emb = table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 8)
    return hard_negative_topk(
        emb, anchors, id_col="vec_id", vec_col="embedding",
        label_col="label", k=_HARDNEG_K,
    )


_Q132_SQL = f"""
WITH {_EMB_MICRO_CTE},
qs AS (SELECT vec_id AS query_id, q AS qq, nn AS qn, label AS ql
       FROM nz WHERE vec_id < 8),
s AS (
  SELECT qs.query_id, c.vec_id AS neighbor_id,
         {_ICOS_PPM_SQL.format(a='c.q', b='qs.qq', na='c.nn', nb='qs.qn')} AS cos_ppm
  FROM nz c CROSS JOIN qs
  WHERE c.label <> qs.ql
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, cos_ppm
FROM (
  SELECT query_id, neighbor_id, cos_ppm,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, neighbor_id ASC) AS rnk
  FROM s
)
WHERE rnk <= {_HARDNEG_K}
"""


# Q133 Greedy k-center diverse-subset selection (farthest-point
# traversal) over the embeddings — the diversity-sampling step of a
# curation pipeline.  k corpus passes, 1-row argmax reduce each,
# distances quantized to integer micros before the argmax so the
# greedy trajectory is engine-reproducible.  See
# operators/similarity.py: kcenter_select.
_KCENTER_K = 8


def q133_kcenter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import kcenter_select

    emb = table(spark, sf_dir, "embeddings")
    return kcenter_select(emb, id_col="vec_id", vec_col="embedding",
                          k=_KCENTER_K)


def _kcenter_sql(k: int) -> str:
    """Unrolled greedy trajectory: stage i picks the argmax of the
    running integer-micro min-distance, then folds the new center into
    the running distance with LEAST — the same zip-fold squared-L2 and
    the same (md DESC, id ASC) tie-break as the Spark operator.

    Every CTE is MATERIALIZED: ``m{i}`` reads ``m{i-1}`` both directly
    and through ``c{i}``, so DuckDB 1.0 would otherwise inline and
    recompute the chain exponentially often in k (378 s at k = 8 on
    sf0.001, 0.07 s materialized, rows identical)."""

    def d2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, len({a}) + 1), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v"
        " FROM embeddings)",
        "c1 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
        "sel1 AS MATERIALIZED (SELECT 1 AS sel_rank, vec_id, CAST(0 AS BIGINT)"
        " AS dist_micro FROM c1)",
        "m1 AS MATERIALIZED (SELECT e.vec_id, e.v, CAST(ROUND("
        + d2("e.v", "c.v")
        + " * 1000000) AS BIGINT) AS md FROM e, c1 c)",
    ]
    for i in range(2, k + 1):
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT vec_id, v, md FROM m{i - 1} "
            f"WHERE vec_id NOT IN (SELECT vec_id FROM sel{i - 1}) "
            f"ORDER BY md DESC, vec_id ASC LIMIT 1)"
        )
        parts.append(
            f"sel{i} AS MATERIALIZED (SELECT * FROM sel{i - 1} UNION ALL "
            f"SELECT {i}, vec_id, md FROM c{i})"
        )
        if i < k:
            parts.append(
                f"m{i} AS MATERIALIZED (SELECT m.vec_id, m.v, "
                "LEAST(m.md, CAST(ROUND("
                + d2("m.v", "c.v")
                + f" * 1000000) AS BIGINT)) AS md FROM m{i - 1} m, c{i} c)"
            )
    return (
        ",\n".join(parts)
        + f"\nSELECT CAST(sel_rank AS BIGINT) AS sel_rank,"
        f" CAST(vec_id AS BIGINT) AS id, dist_micro FROM sel{k}"
    )


_Q133_SQL = _kcenter_sql(_KCENTER_K)


# Q134 Canonical-document selection: near-dup clusters (the q46 LSH
# machinery) keep their single highest-quality member (q21's score),
# ties to the smallest id — dedup that removes the WORST copies.  The
# per-cluster argmax is a struct-max partial aggregate, not a window
# funnel.  See operators/dedup.py: keep_best_per_cluster.
def q134_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.components import dedup_clusters
    from .operators.dedup import keep_best_per_cluster

    docs = table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        minhash_band_buckets(docs, "doc_id", "text", n=1, num_hashes=16, bands=4),
        max_bucket=LSH_MAX_BUCKET,
    )
    clusters = dedup_clusters(pairs, id_a="doc_a", id_b="doc_b")
    quality = text_quality(docs, "doc_id", "text")
    return keep_best_per_cluster(
        clusters, quality, id_col="doc_id", score_col="quality_pct"
    )


_Q134_SQL = f"""
WITH RECURSIVE pairs AS ({_Q19_SQL}),
eu AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
v AS (SELECT DISTINCT src AS vid FROM eu),
r AS (
  SELECT vid, vid AS label FROM v
  UNION
  SELECT e.dst AS vid, r.label FROM r JOIN eu e ON e.src = r.vid
),
clusters AS (
  SELECT vid, CAST(min(label) AS BIGINT) AS canonical_id
  FROM r GROUP BY vid
),
q AS ({_Q21_SQL}),
j AS (
  SELECT c.canonical_id AS cluster_id, c.vid, q.quality_pct
  FROM clusters c JOIN q ON q.doc_id = c.vid
)
SELECT cluster_id,
       CAST((list(vid ORDER BY quality_pct DESC, vid ASC))[1] AS BIGINT) AS kept_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(max(quality_pct) AS BIGINT) AS kept_score
FROM j GROUP BY cluster_id
"""


# Q135 Incremental near-dup: probe the incoming shard (doc_id % 10 ==
# 0) against the historical LSH index (the other 90 %) — the
# grows-in-shards production shape: new docs pair only with the index,
# the historical corpus is never re-paired with itself.  Index-side
# hot buckets are capped.  See operators/dedup.py: lsh_probe_candidates.
def q135_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import lsh_probe_candidates

    docs = table(spark, sf_dir, "documents")

    # index and probe are two filters of the SAME bucket relation; the
    # probe join cannot reuse the index side's exchange, so without the
    # checkpoint the signature pipeline executes twice (r11; same
    # double-compute as lsh_candidate_pairs' self-join, same fix).
    buckets = minhash_band_buckets(
        docs, "doc_id", "text", n=1, num_hashes=16, bands=4
    ).localCheckpoint(eager=False)
    index = buckets.where(F.col("doc") % 10 != 0)
    probe = buckets.where(F.col("doc") % 10 == 0)
    return lsh_probe_candidates(index, probe, max_bucket=LSH_MAX_BUCKET)


_Q135_SQL = f"""
WITH s AS (
  SELECT doc_id AS doc, unnest(list_distinct({_TOK.format(col='text')})) AS shingle
  FROM documents
),
hx AS (
  SELECT doc, (('0x' || substr(md5(shingle), 1, 15))::BIGINT) % 2147483647 AS x
  FROM s
),
comp AS (
  SELECT doc, i AS h, min(((2*i + 1) * x + 7919*i) % 2147483647) AS mh
  FROM hx CROSS JOIN (SELECT unnest(range(16)) AS i)
  GROUP BY doc, i
),
band0 AS (
  SELECT doc, h // 4 AS band,
         md5(string_agg(lpad(h::VARCHAR, 2, '0') || ':' || mh::VARCHAR, '|' ORDER BY h)) AS band_sig
  FROM comp GROUP BY doc, h // 4
),
idx AS (
  SELECT doc, band, band_sig FROM (
    SELECT *, count(*) OVER (PARTITION BY band, band_sig) AS bsz
    FROM band0 WHERE doc % 10 <> 0
  ) WHERE bsz <= {LSH_MAX_BUCKET}
),
prb AS (SELECT * FROM band0 WHERE doc % 10 = 0)
SELECT DISTINCT p.doc AS doc_new, i.doc AS doc_old
FROM prb p JOIN idx i
  ON p.band = i.band AND p.band_sig = i.band_sig
"""


# Q136 Leakage-safe split (operators/sampling.py: leakage_safe_split):
# near-dup LSH pairs (q19's capped construction) -> connected
# components -> whole component assigned to one split by md5 of the
# group anchor.  The oracle recomputes the components with q46's
# recursive CTE and the split with q61's md5 bucket — over the GROUP
# id, which is the entire point.
def q136_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import leakage_safe_split

    docs = table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        minhash_band_buckets(docs, "doc_id", "text", n=1, num_hashes=16, bands=4),
        max_bucket=LSH_MAX_BUCKET,
    )
    return leakage_safe_split(
        docs,
        pairs,
        "doc_id",
        [("train", 0.9), ("validation", 0.05), ("test", 0.05)],
    )


_Q136_SQL = f"""
WITH RECURSIVE pairs AS ({_Q19_SQL}),
eu AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
v AS (SELECT DISTINCT src AS vid FROM eu),
r AS (
  SELECT vid, vid AS label FROM v
  UNION
  SELECT e.dst AS vid, r.label FROM r JOIN eu e ON e.src = r.vid
),
comp AS (SELECT vid, min(label) AS canonical_id FROM r GROUP BY vid),
g AS (
  SELECT d.doc_id,
         CAST(coalesce(c.canonical_id, d.doc_id) AS BIGINT) AS group_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.vid
)
SELECT doc_id, group_id,
       CASE WHEN b < 900000 THEN 'train'
            WHEN b < 950000 THEN 'validation'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, group_id,
         ('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS b
  FROM g
)
"""


# Q137 Trained hashed NB-style classifier (operators/textstats.py:
# nb_token_classifier): weights LEARNED from the corpus (per-bucket
# smoothed en-rate minus global prior, integer micro), then every doc
# scored against them — unlike q104's fixed surrogate weights.
def q137_trained_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import nb_token_classifier

    docs = table(spark, sf_dir, "documents").withColumn(
        "__is_en", F.col("lang") == "en"
    )
    return nb_token_classifier(docs, "doc_id", "text", "__is_en", buckets=512)


_Q137_SQL = f"""
WITH toks AS (
  SELECT doc_id, y,
         (('0x' || substr(md5(tok), 1, 15))::BIGINT % 512) AS b
  FROM (
    SELECT doc_id, lang = 'en' AS y,
           unnest({_TOK.format(col='text')}) AS tok
    FROM documents
  )
),
counts AS (
  SELECT b, sum(CASE WHEN y THEN 1 ELSE 0 END) AS np, count(*) AS n
  FROM toks GROUP BY b
),
prior AS (SELECT sum(np) AS gp, sum(n) AS gn FROM counts),
weights AS (
  SELECT b, ((np + 1) * 1000000) // (n + 2)
            - ((gp + 1) * 1000000) // (gn + 2) AS w
  FROM counts, prior
)
SELECT t.doc_id,
       CAST(sum(w.w) AS BIGINT) AS score_micro,
       CAST(count(*) AS BIGINT) AS n_tokens,
       sum(w.w) > 0 AS pred_label
FROM toks t JOIN weights w ON t.b = w.b
GROUP BY t.doc_id
"""


# Q138 DSIR-shaped importance resampling (operators/sampling.py:
# importance_resample): target = docs from sources src0-src3; every
# doc ranked by mean hashed-unigram target-affinity (integer ratio,
# no log), admitted in importance order under a token budget.
_Q138_BUDGET = 5_000


def q138_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import importance_resample

    docs = table(spark, sf_dir, "documents").withColumn(
        "__target", F.col("source").isin("src0", "src1", "src2", "src3")
    )
    return importance_resample(
        docs, "doc_id", "text", "__target", budget_tokens=_Q138_BUDGET,
        buckets=512,
    )


_Q138_SQL = f"""
WITH toks AS (
  SELECT doc_id, t,
         (('0x' || substr(md5(tok), 1, 15))::BIGINT % 512) AS b
  FROM (
    SELECT doc_id, source IN ('src0', 'src1', 'src2', 'src3') AS t,
           unnest({_TOK.format(col='text')}) AS tok
    FROM documents
  )
),
ratio AS (
  SELECT b, ((sum(CASE WHEN t THEN 1 ELSE 0 END) + 1) * 1000000)
            // (count(*) + 512) AS r
  FROM toks GROUP BY b
),
scored AS (
  SELECT doc_id,
         CAST(sum(r) // count(*) AS BIGINT) AS score_micro,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM toks JOIN ratio USING (b)
  GROUP BY doc_id
),
cum AS (
  SELECT doc_id, score_micro, n_tokens,
         sum(n_tokens) OVER (ORDER BY score_micro DESC, doc_id)
           AS cum_tokens
  FROM scored
)
SELECT doc_id, score_micro, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cum WHERE cum_tokens - n_tokens < {_Q138_BUDGET}
"""


# Q139/Q140 ExactSubstr dedup (operators/dedup.duplicate_substring_spans):
# sliding rolling-window duplicated-substring detection — the Lee et
# al. 2021 suffix-array recipe re-expressed as a fingerprint-count
# shuffle — and its scrubbing application.  Every 12-token window that
# occurs >1 time in the corpus marks its positions; overlapping marks
# merge into maximal spans (q139); q140 drops the covered tokens and
# reassembles the survivors.  Integer span offsets / exact strings, so
# DuckDB reproduces both bit-for-bit.  The shared spans CTE is the
# q139 oracle's body.
_Q139_W = 12

_Q139_SPANS_CTE = f"""
toks AS (SELECT doc_id, {_TOK.format(col='text')} AS t FROM documents),
nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= {_Q139_W}),
wins AS (
  SELECT doc_id, t,
         unnest(generate_series(1, n - {_Q139_W} + 1)) AS s
  FROM nz
),
wtext AS (
  SELECT doc_id, s - 1 AS pos,
         md5(array_to_string(t[s:s+{_Q139_W}-1], ' ')) AS fp
  FROM wins
),
dup AS (
  SELECT doc_id, pos
  FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY fp) AS c FROM wtext)
  WHERE c > 1
),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {_Q139_W}
              THEN 1 ELSE 0 END AS brk
  FROM dup
),
grp AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM flagged
),
spans AS (
  SELECT doc_id,
         CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(pos) + {_Q139_W} AS BIGINT) AS span_end,
         CAST(count(*) AS BIGINT) AS n_windows
  FROM grp GROUP BY doc_id, g
)"""


def q139_dup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import duplicate_substring_spans

    docs = table(spark, sf_dir, "documents")
    return duplicate_substring_spans(docs, "doc_id", "text", _Q139_W)


_Q139_SQL = f"""
WITH {_Q139_SPANS_CTE}
SELECT doc_id, span_start, span_end, n_windows FROM spans
"""


def q140_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import scrub_duplicate_substrings

    docs = table(spark, sf_dir, "documents")
    return scrub_duplicate_substrings(docs, "doc_id", "text", _Q139_W)


_Q140_SQL = f"""
WITH {_Q139_SPANS_CTE},
tok AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks
),
kept AS (
  SELECT doc_id, w, i FROM tok
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tok.doc_id
      AND tok.i - 1 >= s.span_start AND tok.i - 1 < s.span_end
  )
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         array_to_string(list(w ORDER BY i), ' ') AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(a.clean_text, '') AS clean_text
FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
"""


# Q141 Margin-based pair mining (operators/similarity.margin_pair_mine):
# cross-set nearest-neighbor pairs (label-0 vectors mined against the
# rest of the corpus) scored by the bitext-mining ratio margin —
# cosine renormalized by both endpoints' mean k-NN cosine, which
# suppresses hub vectors that plain top-1 over-matches.  Integer
# arithmetic END TO END: cos_ppm itself comes from micro-quantized
# integer dot products (the r05 driver red was a float-fold cos_ppm
# whose last ppm depended on the engine's summation order, amplified
# by the margin division into a different best neighbor); the oracle
# replays the quantization, the windows, and the integer divisions.
_Q141_K = 4


def q141_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import margin_pair_mine

    emb = table(spark, sf_dir, "embeddings")
    return margin_pair_mine(
        emb.where(F.col("label") != 0),
        emb.where(F.col("label") == 0),
        "vec_id",
        "embedding",
        k=_Q141_K,
    )


_Q141_SQL = f"""
WITH {_EMB_MICRO_CTE},
s AS (
  SELECT qs.vec_id AS query_id, cs.vec_id AS neighbor_id,
         {_ICOS_PPM_SQL.format(a='cs.q', b='qs.q', na='cs.nn', nb='qs.nn')}
           AS cos_ppm
  FROM nz qs JOIN nz cs ON qs.label = 0 AND cs.label <> 0
),
pos AS (SELECT * FROM s WHERE cos_ppm > 0),
fwd AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_ppm DESC, neighbor_id
  ) AS r FROM pos
),
fq AS (
  SELECT query_id, sum(cos_ppm) // count(*) AS avg_fwd_ppm
  FROM fwd WHERE r <= {_Q141_K} GROUP BY 1
),
bwd AS (
  SELECT *, row_number() OVER (
    PARTITION BY neighbor_id ORDER BY cos_ppm DESC, query_id
  ) AS r FROM pos
),
bq AS (
  SELECT neighbor_id, sum(cos_ppm) // count(*) AS avg_bwd_ppm
  FROM bwd WHERE r <= {_Q141_K} GROUP BY 1
),
m AS (
  SELECT f.query_id, f.neighbor_id, f.cos_ppm,
         (f.cos_ppm * 2000000) // (fq.avg_fwd_ppm + bq.avg_bwd_ppm)
           AS margin_micro
  FROM fwd f JOIN fq USING (query_id) JOIN bq USING (neighbor_id)
  WHERE f.r <= {_Q141_K} AND fq.avg_fwd_ppm + bq.avg_bwd_ppm > 0
),
best AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY margin_micro DESC, neighbor_id
  ) AS b FROM m
)
SELECT query_id, neighbor_id, cos_ppm,
       CAST(margin_micro AS BIGINT) AS margin_micro
FROM best WHERE b = 1
"""


# Q142 ANN-fed margin mining (operators/similarity.margin_pair_mine_ann):
# the 100 TB composition the brute q141 scan cannot be — sign-LSH
# bucket candidates (integer-exact signatures: micro-quantized planes,
# integer dots) -> exact icos_ppm re-score -> the same margin_select
# arithmetic.  Corpus work is linear (bands rows per vector into a
# bucket join against the BROADCAST query bands; no bipartite product
# anywhere — pinned by tests/test_plans.py).  The oracle re-derives
# the identical candidate set from the same integer plane constants,
# so recall is part of the gated contract, not a hidden approximation.
_Q142_K = 4
_Q142_DIM = 64
_Q142_PLANES = 32
_Q142_BANDS = 4


def q142_ann_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import margin_pair_mine_ann

    emb = table(spark, sf_dir, "embeddings")
    return margin_pair_mine_ann(
        emb.where(F.col("label") != 0),
        emb.where(F.col("label") == 0),
        "vec_id",
        "embedding",
        dim=_Q142_DIM,
        k=_Q142_K,
        n_planes=_Q142_PLANES,
        bands=_Q142_BANDS,
    )


def _iband_sig_sql(planes_micro: list[list[int]], bands: int) -> str:
    """DuckDB list-of-buckets expression mirroring similarity.sign_band_rows
    over a quantized list column ``q``: the same integer plane constants
    are interpolated as literals, so bucket values are bit-identical to
    the Spark side's."""
    rpb = len(planes_micro) // bands
    band_exprs = []
    for b in range(bands):
        bits = []
        for j in range(rpb):
            lits = "[" + ", ".join(
                str(c) for c in planes_micro[b * rpb + j]
            ) + "]"
            # zip the plane in once: a list literal indexed inside the
            # lambda is rebuilt per element (~10 s of the oracle at sf0.01)
            bit = (
                "(CASE WHEN list_sum(list_transform("
                f"list_zip(q, {lits}), x -> x[1] * x[2])) >= 0 THEN 1 ELSE 0 END)"
            )
            bits.append(f"{bit} * {1 << j}")
        band_exprs.append("(" + "\n   + ".join(bits) + ")")
    return "[\n  " + ",\n  ".join(band_exprs) + "\n]"


def _q142_sql() -> str:
    from .operators.similarity import micro_planes

    planes = micro_planes(_Q142_DIM, _Q142_PLANES, seed=13)
    sig = _iband_sig_sql(planes, _Q142_BANDS)
    return f"""
WITH {_EMB_MICRO_CTE},
sig AS MATERIALIZED (SELECT vec_id, label, q, nn, {sig} AS buckets FROM nz),
qb AS (
  SELECT vec_id, unnest(buckets) AS bucket,
         generate_subscripts(buckets, 1) AS band
  FROM sig WHERE label = 0
),
cb AS (
  SELECT vec_id, unnest(buckets) AS bucket,
         generate_subscripts(buckets, 1) AS band
  FROM sig WHERE label <> 0
),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM qb JOIN cb USING (band, bucket)
  WHERE qb.vec_id <> cb.vec_id
),
s AS (
  SELECT c.query_id, c.neighbor_id,
         {_ICOS_PPM_SQL.format(a='cs.q', b='qs.q', na='cs.nn', nb='qs.nn')}
           AS cos_ppm
  FROM cand c
  JOIN sig cs ON cs.vec_id = c.neighbor_id AND cs.label <> 0
  JOIN sig qs ON qs.vec_id = c.query_id AND qs.label = 0
),
pos AS (SELECT * FROM s WHERE cos_ppm > 0),
fwd AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_ppm DESC, neighbor_id
  ) AS r FROM pos
),
fq AS (
  SELECT query_id, sum(cos_ppm) // count(*) AS avg_fwd_ppm
  FROM fwd WHERE r <= {_Q142_K} GROUP BY 1
),
bwd AS (
  SELECT *, row_number() OVER (
    PARTITION BY neighbor_id ORDER BY cos_ppm DESC, query_id
  ) AS r FROM pos
),
bq AS (
  SELECT neighbor_id, sum(cos_ppm) // count(*) AS avg_bwd_ppm
  FROM bwd WHERE r <= {_Q142_K} GROUP BY 1
),
m AS (
  SELECT f.query_id, f.neighbor_id, f.cos_ppm,
         (f.cos_ppm * 2000000) // (fq.avg_fwd_ppm + bq.avg_bwd_ppm)
           AS margin_micro
  FROM fwd f JOIN fq USING (query_id) JOIN bq USING (neighbor_id)
  WHERE f.r <= {_Q142_K} AND fq.avg_fwd_ppm + bq.avg_bwd_ppm > 0
),
best AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY margin_micro DESC, neighbor_id
  ) AS b FROM m
)
SELECT query_id, neighbor_id, cos_ppm,
       CAST(margin_micro AS BIGINT) AS margin_micro
FROM best WHERE b = 1
"""


_Q142_SQL = _q142_sql()


# Q143 Approximate triangle count via DOULION edge sampling (p = 1/4):
# the documented crawl-scale fallback when exact triangle counting's
# inherent O(|E|^1.5) wedge volume is too expensive on one giant
# component.  Deterministic md5-hash sampling (no RNG), so the
# estimate is a pure function of the graph and the oracle replays the
# exact same subgraph.  See operators/components.py:
# triangle_total_doulion and PLANS.md's triangle-family note.
def q143_approx_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.components import triangle_total_doulion

    return triangle_total_doulion(_lineitem_edges(spark, sf_dir), p_ppm=250_000)


_Q143_SQL = f"""
WITH raw AS (
  SELECT {_LINEITEM_EDGES_SQL}
),
edges AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM raw
),
sampled AS (
  SELECT a, b FROM edges
  WHERE (('0x' || substr(md5(CAST(a AS VARCHAR) || ':' ||
                             CAST(b AS VARCHAR)), 1, 15))::BIGINT
         % 1000000) < 250000
)
SELECT CAST(count(*) * 64 AS BIGINT) AS n_triangles_est
FROM sampled e1
JOIN (SELECT a AS b, b AS c FROM sampled) e2 USING (b)
JOIN sampled e3 ON e3.a = e1.a AND e3.b = e2.c
"""


# Q144 Connected components over per-user event CHAINS — the
# adversarial long-path shape (one user's event history is a single
# path, up to hundreds of hops) that min-label propagation cannot
# finish in bounded rounds (O(diameter)); resolved by the alternating
# large-star/small-star contraction (O(log n) alternations).  See
# operators/components.py: connected_components_star.  The oracle is
# exact because each chain's component is its user's minimum event id.
def q144_chain_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .operators.components import connected_components_star

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chain = ev.select(
        "event_id", F.lag("event_id").over(w).alias("prev")
    )
    edges = chain.where(F.col("prev").isNotNull()).select(
        F.col("prev").alias("src"), F.col("event_id").alias("dst")
    )
    return connected_components_star(edges)


_Q144_SQL = """
WITH c AS (
  SELECT event_id,
         count(*) OVER (PARTITION BY user_id) AS n,
         min(event_id) OVER (PARTITION BY user_id) AS comp
  FROM events
)
SELECT CAST(event_id AS BIGINT) AS vid, CAST(comp AS BIGINT) AS component
FROM c WHERE n >= 2
"""


# Q145 Streaming admission control, driver-gated: replay the documents
# corpus through streaming/budget.py: token_budget_stream as an
# id-ordered sequence of micro-batch files (availableNow + memory
# sink), so the streaming twin carries a full batch oracle instead of
# only a stream==batch pinning test.  Arrival order is ascending
# doc_id (contiguous id-range files, mtime-laddered, one per trigger),
# so the admissions equal a per-group running token sum over doc_id
# order, and the cross-batch state carry (consumed tokens resuming in
# the next micro-batch) is on the gated path.  Cf. the reference's
# per-batch job DAG lifecycle (themis daemon jobs consuming staged
# input directories in order).
def q145_budget_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.budget import token_budget_replay

    docs = table(spark, sf_dir, "documents")
    out = token_budget_replay(
        spark, docs, "doc_id", "text", "source", _TOKEN_BUDGET
    )
    return out.select(
        "group", F.col("id").alias("doc_id"), "n_tokens", "cum_tokens"
    )


_Q145_SQL = f"""
WITH t AS (
  SELECT source AS "group", doc_id,
         CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT "group", doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY "group" ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM t
)
SELECT "group", doc_id, n_tokens, cum_tokens
FROM c WHERE cum_tokens - n_tokens < {_TOKEN_BUDGET}
"""


_QUERY_NAME = re.compile(r"q(\d+)([a-z]?)_\w+")
_ORACLE_NAME = re.compile(r"_Q\d+[A-Z]?_SQL")


def _catalog(
    ns: dict[str, object],
) -> tuple[dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]]:
    """The query catalog, derived from a module namespace.

    Every function named ``qNN[b]_*`` is a query, and its DuckDB oracle
    is the ``_QNN[B]_SQL`` constant.  Both dicts come back in catalog
    order, by number and then suffix (q10 < q10b < q11), whatever order
    the definitions appear in.  A query without an oracle, an oracle
    without a query, or two queries sharing one id raises, so "every
    query is oracled" holds by construction.
    """
    ids = {
        name: m.groups()
        for name, fn in ns.items()
        if callable(fn) and (m := _QUERY_NAME.fullmatch(name))
    }
    oracle_of = {name: f"_Q{n}{b.upper()}_SQL" for name, (n, b) in ids.items()}
    oracles = {name for name in ns if _ORACLE_NAME.fullmatch(name)}
    no_oracle = sorted(n for n, o in oracle_of.items() if o not in oracles)
    no_query = sorted(oracles - set(oracle_of.values()))
    shared = sorted(n for n in ids if list(ids.values()).count(ids[n]) > 1)
    if no_oracle or no_query or shared:
        raise ValueError(
            f"query catalog out of sync: queries without an oracle "
            f"{no_oracle}; oracles without a query {no_query}; "
            f"queries sharing an id {shared}"
        )
    names = sorted(ids, key=lambda name: (int(ids[name][0]), ids[name][1]))
    return (
        {n: ns[n] for n in names},
        {n: ns[oracle_of[n]] for n in names},
    )


CATALOG, ORACLES = _catalog(globals())
