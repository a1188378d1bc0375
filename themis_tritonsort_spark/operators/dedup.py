"""Deduplication operators for large-scale corpus curation.

Beyond-reference components (the reference's closest primitive is
CountDuplicateKeysReduceFunction — exact duplicate keys,
``functions/reduce/CountDuplicateKeysReduceFunction.cc:77-99``); the
near-dup family is standard corpus-dedup practice re-expressed as
DataFrame plans:

  exact        — group by content hash, pick canonical representative.
  jaccard      — exact n-gram Jaccard via a shared-shingle self-join
                 (pairs with jaccard >= t MUST share a shingle, so the
                 join prunes without losing candidates).
  minhash/LSH  — banded min-hash signatures; candidate pairs = docs
                 colliding in any band bucket.  One md5-based affine
                 family (_minhash), chosen because the DuckDB oracle
                 computes the identical integers; the hot-bucket cap
                 and the candidate self-join are shared with sign-LSH.
  simhash      — sign-sum fingerprint over token hashes (60-bit
                 md5-derived by default so the oracle reproduces it;
                 64-bit xxhash64 as the cheapest-per-token variant).

Scale notes: every operator is shuffle-on-key only; the shingle join's
worst case is a hot shingle shared by many docs — cap posting-list
length (drop shingles with document frequency > max_df) exactly like
production near-dup pipelines drop ubiquitous shingles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import md5_60
from ..functions.text import shingles_from_tokens, tokens


def _doc_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc, set, sz): distinct shingle set per doc, empty docs dropped.
    Tokens are materialized in a separate projection so the n-gram
    lambda doesn't re-run the tokenizer per position (see text.ngrams)."""
    return (
        df.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("__toks"))
        .select("doc", shingles_from_tokens(F.col("__toks"), n).alias("set"))
        .withColumn("sz", F.size("set"))
        .where(F.col("sz") > 0)
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, content_hash, canonical_id, group_size): one row per doc that
    belongs to a duplicate group (group_size > 1); canonical = min id."""
    h = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
    w = Window.partitionBy("content_hash")
    return (
        h.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w).cast("long"))
        .where(F.col("group_size") > 1)
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) exploded distinct word-n-gram shingles per doc."""
    return _doc_shingle_sets(df, id_col, text_col, n).select(
        "doc", F.explode("set").alias("shingle")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_jaccard: float = 0.5,
    prefix_filter: bool = True,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard duplicate pairs.

    Returns (doc_a, doc_b, inter_size, union_size) with doc_a < doc_b
    and inter/union >= min_jaccard.  Integer outputs only (hash-stable).

    With ``prefix_filter`` (ppjoin-style, EXACT): candidate pairs come
    from joining only each doc's p = |S| - ceil(t*|S|) + 1 globally
    rarest shingles.  Any pair with J >= t shares >= 1 prefix shingle
    when both prefixes use the same global (df, shingle) order, so no
    qualifying pair is lost; the exact intersection is then computed
    per candidate with array_intersect over the full collected sets.
    This kills the quadratic buckets that ubiquitous shingles create in
    the naive shared-shingle self-join — the difference between
    O(sum df^2) and near-linear candidate generation at corpus scale.

    ``max_df`` (the hot-shingle guard) drops shingles whose document
    frequency exceeds it from the shingle UNIVERSE before anything
    else: sets shrink, and J is computed over the restricted universe
    — the standard production approximation (ubiquitous shingles are
    boilerplate and carry no dedup signal, but each one costs df^2
    candidate pairs in the unfiltered join).  The hot-shingle list is
    tiny by construction (few shingles exceed any sane max_df), so the
    filter is a broadcast anti-join — no extra corpus shuffle.
    Default None keeps the operator exact.
    """
    # Tokenize/shingle each doc exactly ONCE: materialize the per-doc
    # shingle-set table and derive the exploded view, frequency table,
    # and prefixes from it.  Without the checkpoint, Spark's lazy DAG
    # re-runs the tokenize+ngram scan once per branch.
    docsets = _doc_shingle_sets(df, id_col, text_col, n).localCheckpoint(
        eager=False
    )
    sh = docsets.select("doc", F.explode("set").alias("shingle"))

    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
        # rebuild the per-doc sets over the restricted universe so the
        # exact-intersection stage agrees with the candidate stage
        docsets = (
            sh.groupBy("doc")
            .agg(F.array_sort(F.collect_set("shingle")).alias("set"))
            .withColumn("sz", F.size("set"))
            .where(F.col("sz") > 0)
            .localCheckpoint(eager=False)
        )
        sh = docsets.select("doc", F.explode("set").alias("shingle"))

    if prefix_filter:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
        ordered = sh.join(freq, "shingle").withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("doc").orderBy("sdf", "shingle")
            ),
        )
        t = float(min_jaccard)
        # Checkpointed for the same reason as lsh_candidate_pairs'
        # buckets (r11): both sides of the candidate self-join are this
        # relation, and a broadcast build side means no exchange reuse —
        # without the checkpoint the df-rank window pipeline runs twice.
        prefix = (
            ordered.join(docsets.select("doc", "sz"), "doc")
            .where(
                F.col("r") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
            )
            .localCheckpoint(eager=False)
        )
        a = prefix.select(
            F.col("doc").alias("doc_a"), "shingle",
            F.col("r").alias("r_a"), F.col("sz").alias("psz_a"),
        )
        b = prefix.select(
            F.col("doc").alias("doc_b"), "shingle",
            F.col("r").alias("r_b"), F.col("sz").alias("psz_b"),
        )
        # Exact ppjoin prunes applied per prefix match, before distinct:
        #  - length filter: J >= t forces t*|B| <= |A| <= |B|/t;
        #  - position filter: the overlap still reachable from match
        #    positions (r_a, r_b), min(|A|-r_a, |B|-r_b)+1, must meet the
        #    minimum overlap ceil(t/(1+t)*(|A|+|B|)).
        min_overlap = F.ceil(
            F.lit(t / (1.0 + t)) * (F.col("psz_a") + F.col("psz_b"))
        )
        cand = (
            a.join(b, ["shingle"])
            .where(
                (F.col("doc_a") < F.col("doc_b"))
                & (F.col("psz_a") >= F.ceil(F.lit(t) * F.col("psz_b")))
                & (F.col("psz_b") >= F.ceil(F.lit(t) * F.col("psz_a")))
                & (
                    F.least(
                        F.col("psz_a") - F.col("r_a"),
                        F.col("psz_b") - F.col("r_b"),
                    )
                    + 1
                    >= min_overlap
                )
            )
            .select("doc_a", "doc_b")
            .distinct()
        )
    else:
        a = sh.select(F.col("doc").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc").alias("doc_b"), "shingle")
        cand = (
            a.join(b, ["shingle"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )

    sa = docsets.select(
        F.col("doc").alias("doc_a"), F.col("set").alias("set_a"), F.col("sz").alias("sz_a")
    )
    sb = docsets.select(
        F.col("doc").alias("doc_b"), F.col("set").alias("set_b"), F.col("sz").alias("sz_b")
    )
    out = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter_size", F.size(F.array_intersect("set_a", "set_b")).cast("long"))
        .withColumn("union_size", (F.col("sz_a") + F.col("sz_b") - F.col("inter_size")).cast("long"))
        .where(F.col("inter_size") >= F.lit(min_jaccard) * F.col("union_size"))
        .select("doc_a", "doc_b", "inter_size", "union_size")
    )
    return out


MINHASH_PRIME = 2147483647  # 2^31 - 1


def _minhash(h: int, x: Column) -> Column:
    """Component h of the min-hash family over a shingle's base hash x
    (md5 60 bits hex -> bigint, mod the Mersenne prime 2^31-1):
    h_i(x) = ((2i+1)*x + 7919*i) mod (2^31-1) — the classic universal
    min-hash family.  ONE md5 per shingle instead of one per
    (i, shingle), and md5 keeps the DuckDB oracle able to reproduce the
    exact integers ('0x'||hex)::BIGINT."""
    return (F.lit(2 * h + 1) * x + F.lit(7919 * h)) % MINHASH_PRIME


def _band_rows(keyed: DataFrame, mins: list[Column], bands: int) -> DataFrame:
    """(doc, band, band_sig) from one row per doc carrying its min-hash
    components ``mins`` (h order): band b's digest is the md5 of
    "hh:mh" for its rows, 2-digit zero-padded h, joined by "|"."""
    if len(mins) % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({len(mins)})"
        )
    rpb = len(mins) // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.concat_ws(
                                ":", F.lit(f"{h:02d}"), mins[h].cast("string")
                            )
                            for h in range(b * rpb, (b + 1) * rpb)
                        ],
                    )
                ).alias("band_sig"),
            )
            for b in range(bands)
        ]
    )
    return keyed.select("doc", F.inline(band_structs))


def minhash_band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Banded min-hash buckets: (doc, band, band_sig), one row per doc
    and band; documents with no shingle have no rows.

    Plan shape: all num_hashes mins are computed in ONE groupBy(doc)
    pass (num_hashes min-aggregates over the shingle rows), and the band
    digests are built map-side from the wide aggregate's columns and
    exploded out — one shuffle, never a crossJoin of shingles x hashes
    or a second regrouping of (doc, h) rows by band.  The mins stay
    aggregates on purpose: the per-row array-lambda form
    (``minhash_doc_bands``) runs interpreted, which is right for a
    stream's single rows and wrong for a corpus scan.
    """
    base = md5_60(F.col("shingle")) % MINHASH_PRIME
    hashed = shingle_sets(df, id_col, text_col, n).select("doc", base.alias("x"))
    wide = hashed.groupBy("doc").agg(
        *[F.min(_minhash(h, F.col("x"))).alias(f"mh{h}") for h in range(num_hashes)]
    )
    return _band_rows(wide, [F.col(f"mh{h}") for h in range(num_hashes)], bands)


def minhash_doc_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """``minhash_band_buckets`` computed per ROW, with no shuffle: each
    document's mins come from array lambdas over its own shingle set,
    so the same (doc, band, band_sig) rows come out of a map-only plan
    — the form a stream can use (one arriving document is one row)."""
    xs = _doc_shingle_sets(df, id_col, text_col, n).select(
        "doc",
        F.transform("set", lambda s: md5_60(s) % MINHASH_PRIME).alias("__xs"),
    )

    def component(h: int) -> Column:
        return F.array_min(F.transform("__xs", lambda x: _minhash(h, x)))

    return _band_rows(xs, [component(h) for h in range(num_hashes)], bands)


def cap_hot_buckets(
    buckets: DataFrame, max_bucket: int | None
) -> DataFrame:
    """Drop every (band, band_sig) bucket holding more than
    ``max_bucket`` rows — the hot-bucket skew guard of every LSH
    candidate join.  A band bucket holding k docs emits k(k-1)/2 pairs,
    so one boilerplate cluster (an empty string, a licence header, a
    cluster of identical embeddings) can turn the join quadratic at
    corpus scale; production near-dup pipelines treat such buckets as
    degenerate (they are trivially all-duplicates; exact dedup, which is
    linear, owns them).  The count window partitions on the join's own
    key, so the guard costs no extra shuffle.  ``None`` keeps all."""
    if max_bucket is None:
        return buckets
    w = Window.partitionBy("band", "band_sig")
    return (
        buckets.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .where(F.col("__bsz") <= max_bucket)
        .drop("__bsz")
    )


def lsh_candidate_pairs(
    buckets: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing any band bucket
    of a (doc, band, band_sig) relation — MinHash or sign-LSH alike.
    Buckets over ``max_bucket`` are dropped first (cap_hot_buckets).
    """
    buckets = cap_hot_buckets(buckets, max_bucket)
    # Both sides of the self-join are THIS relation, and when the
    # planner broadcasts one side there is no exchange to reuse — the
    # whole upstream pipeline (tokenize + shingle + md5 + the signature
    # aggregate) executes once per side (seen in the r11 sf0.001 plan
    # audit: two complete scan->signature subtrees under the join).
    # The bucket relation is bands rows/doc of (long, long, 32-char) —
    # tiny next to its recompute — so checkpoint it and let both sides
    # read the blocks (guide §5: materialize exactly the
    # reused-and-expensive relation).
    buckets = buckets.localCheckpoint(eager=False)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def lsh_probe_candidates(
    index_buckets: DataFrame,
    probe_buckets: DataFrame,
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental near-dup: probe a batch of NEW documents' band
    buckets against a prebuilt historical index — the production shape
    when a corpus grows in shards and each shard must be deduped
    against everything already ingested, without re-pairing the
    historical corpus with itself.

    Both inputs are (doc, band, band_sig) as produced by
    minhash_band_buckets (the index side is typically materialized once as
    a table, bucketed on (band, band_sig), and reused across incoming
    shards).  Returns distinct (doc_new, doc_old).

    ``max_bucket`` caps the INDEX-side bucket size: a degenerate
    historical bucket (boilerplate cluster) would otherwise hand every
    probe that lands in it the whole bucket as candidates.  Capped
    buckets belong to exact dedup, same contract as
    lsh_candidate_pairs.  The count runs over the index's own
    (band, band_sig) partitioning — no extra shuffle; the probe side
    is never windowed (a shard is small relative to the index)."""
    index_buckets = cap_hot_buckets(index_buckets, max_bucket)
    i = index_buckets.alias("i")
    p = probe_buckets.alias("p")
    return (
        p.join(
            i,
            (F.col("p.band") == F.col("i.band"))
            & (F.col("p.band_sig") == F.col("i.band_sig")),
        )
        .select(F.col("p.doc").alias("doc_new"), F.col("i.doc").alias("doc_old"))
        .distinct()
    )


def simhash64(
    df: DataFrame, id_col: str, text_col: str, hasher: str = "md5"
) -> DataFrame:
    """SimHash over tokens: bit b of the fingerprint is 1 iff the sum
    over tokens of sign(bit b of hash(token)) is positive.

    ``hasher="md5"`` (default) derives a 60-bit token hash from the md5
    hex digest — the same ``conv(substr(md5(w),1,15),16,10)`` family as
    min-hash, chosen because DuckDB reproduces the exact integers
    (``('0x'||substr(md5(w),1,15))::BIGINT``), so the fingerprints are
    oracle-checkable end to end.  ``hasher="xxhash64"`` uses the full
    64-bit JVM hash — cheaper per token at 100 TB, same plan shape —
    when cross-engine reproducibility is not needed.

    JVM-side either way: explode tokens -> hash -> per-bit +/-1 sums
    via one n_bits-element aggregate (a single groupBy pass; no
    per-bit shuffle).  Returns (doc, simhash long).
    """
    if hasher == "xxhash64":
        hh, n_bits = F.xxhash64("w"), 64
    elif hasher == "md5":
        hh = md5_60(F.col("w"))
        n_bits = 60
    else:
        raise ValueError(f"unknown hasher {hasher!r} (md5 | xxhash64)")
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("w")
    ).withColumn("hh", hh)
    bit_sums = tok.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("hh"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(n_bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(n_bits):
        sig = sig + F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return bit_sums.select("doc", sig.alias("simhash"))


# ------------------------------------------------------------------ bloom
# Incremental decontamination: when a new crawl batch lands, the docs
# already present in the prior corpus snapshot must be dropped WITHOUT
# re-shuffling the (100 TB) snapshot.  A Bloom filter over the
# snapshot's content hashes is the standard answer: m bits + k probes,
# broadcast to every executor, membership tested map-side on the batch.
# All hashes are the md5-prefix family of this module, so a SQL oracle
# reproduces the exact bit positions — including false positives.

BLOOM_K = 3


def bloom_positions(text: Column, m_bits: int, k: int = BLOOM_K) -> Column:
    """array<long> of the ``k`` Bloom bit positions for one document's
    content: position_j = md5(text || ':' || j) as 60-bit int, mod m."""
    return F.array(
        *[md5_60(F.concat(text, F.lit(f":{j}"))) % m_bits for j in range(k)]
    )


def bloom_position_set(
    df: DataFrame, text_col: str, m_bits: int, k: int = BLOOM_K
) -> DataFrame:
    """The snapshot side: distinct set bit positions, as a relation
    (``pos`` long).  At most ``k * n_docs`` rows before distinct and
    ``m_bits`` after — bounded by the filter size, not the corpus."""
    return (
        df.select(
            F.explode(bloom_positions(F.col(text_col), m_bits, k)).alias("pos")
        )
        .distinct()
    )


def bloom_words(positions: DataFrame, m_bits: int) -> list[int]:
    """Pack a position set into the literal bitmap: ``m_bits / 64``
    64-bit words.  The distinct+pack aggregation runs on executors;
    only the packed words (16 KiB at m=2^20) reach the driver — a
    scalar-sized collect, same budget class as k-means centers."""
    n_words = (m_bits + 63) // 64
    packed = (
        positions.groupBy(F.shiftright(F.col("pos"), 6).alias("word_idx"))
        .agg(
            F.bit_or(F.expr("shiftleft(1L, CAST(pos % 64 AS INT))")).alias("word")
        )
        .collect()
    )
    words = [0] * n_words
    for row in packed:
        words[row["word_idx"]] = row["word"]
    return words


def bloom_hits_bitmap(
    df: DataFrame,
    text_col: str,
    words: list[int],
    m_bits: int,
    k: int = BLOOM_K,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Map-side membership test against the broadcast bitmap: out_col
    is 1 iff ALL ``k`` probe bits are set (maybe-in-snapshot; false
    positives possible at the designed rate, false negatives never).
    Zero shuffles — the bitmap rides into the plan as a literal
    array<long> and the test is pure codegen bit math per row."""
    arr = F.array(*[F.lit(int(w)).cast("long") for w in words])
    staged = df.withColumn(
        "__bloom_pos", bloom_positions(F.col(text_col), m_bits, k)
    ).withColumn(
        "__bloom_word",
        F.transform(
            F.col("__bloom_pos"),
            lambda p: F.element_at(arr, F.shiftright(p, 6).cast("int") + F.lit(1)),
        ),
    )
    # Bit test needs a column-valued shift amount; the PySpark
    # shiftright wrapper only takes literal shifts, so use the SQL form.
    tested = staged.withColumn(
        out_col,
        F.expr(
            "CAST(forall(zip_with(__bloom_word, __bloom_pos,"
            " (w, p) -> shiftright(w, CAST(p % 64 AS INT)) & 1L),"
            " b -> b = 1L) AS LONG)"
        ),
    )
    return tested.drop("__bloom_pos", "__bloom_word")


def bloom_hits_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    positions: DataFrame,
    m_bits: int,
    k: int = BLOOM_K,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Membership via a broadcast join against the position relation —
    bit-identical to bloom_hits_bitmap (a bit is set iff its position
    is in the set), with no driver collect at all.  Use this form when
    the filter is built and consumed inside one job; the bitmap form
    when the filter is built once and shipped to many later jobs.
    Returns (id_col, out_col) with out_col 1 iff all k probes hit."""
    probes = df.select(
        F.col(id_col),
        F.explode(bloom_positions(F.col(text_col), m_bits, k)).alias("pos"),
    )
    joined = probes.join(
        F.broadcast(positions.withColumn("__set", F.lit(1))), "pos", "left"
    )
    return joined.groupBy(id_col).agg(
        (F.count("__set") == k).cast("long").alias(out_col)
    )


def keep_best_per_cluster(
    clusters: DataFrame,
    scored: DataFrame,
    id_col: str,
    score_col: str,
    cluster_col: str = "canonical_id",
    member_col: str = "vid",
) -> DataFrame:
    """Canonical-document selection — the step AFTER near-dup
    clustering in a curation pipeline: within each duplicate cluster,
    keep the single highest-quality member (ties to the smallest id)
    instead of the arbitrary min-id canonical, so dedup removes the
    WORST copies, not random ones.

    ``clusters`` is (member_col, cluster_col) as produced by
    dedup_clusters; ``scored`` is (id_col, score_col) e.g. from
    text_quality.  Returns one row per cluster:
    (cluster_id, kept_id, n_members, kept_score).

    Plan shape: one equi-join member->score (the score side is the
    corpus — this is a co-partitioned hash join on the id, no
    broadcast of big data), then a single groupBy(cluster) with
    max_by-style selection via a struct-max partial aggregate: the
    per-cluster argmax composes map-side, so a hot cluster costs one
    combiner row per map task, never a single-task window funnel.
    """
    j = clusters.join(
        scored.select(
            F.col(id_col).alias(member_col), F.col(score_col).alias("__score")
        ),
        member_col,
    )
    # argmax as a max over (score, -id) structs: partial-aggregatable,
    # deterministic (score desc, id asc)
    pick = F.max(
        F.struct(
            F.col("__score").cast("long").alias("s"),
            (-F.col(member_col)).alias("neg_id"),
        )
    ).alias("__pick")
    return (
        j.groupBy(F.col(cluster_col).alias("cluster_id"))
        .agg(pick, F.count(F.lit(1)).alias("n_members"))
        .select(
            "cluster_id",
            (-F.col("__pick.neg_id")).cast("long").alias("kept_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("__pick.s").cast("long").alias("kept_score"),
        )
    )


def duplicate_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_tokens: int = 16,
) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): every
    sliding window of ``window_tokens`` consecutive tokens is
    fingerprinted, a window whose text occurs more than once in the
    CORPUS (across documents or repeated inside one document) is
    "duplicated", and per document the overlapping/adjacent duplicated
    windows merge into maximal spans.  Returns one row per merged span:
    (id, span_start, span_end, n_windows) with 0-based token offsets,
    end exclusive — integer-exact, so the DuckDB oracle reproduces it
    bit-for-bit.

    This is the sliding-window complement of ``textstats.dedup_spans``
    (fixed non-overlapping blocks): blocks miss duplicates that
    straddle a block boundary; the sliding window catches every
    duplicated run of >= window_tokens tokens at the cost of w rows
    per token position.  The reference suffix-array formulation is a
    single-node algorithm; corpus-wide rolling fingerprints + a
    count-per-fingerprint shuffle is the standard distributed
    re-expression.

    Scale: one exchange keyed by the window fingerprint (count > 1
    decision, partial-aggregated map-side), one keyed by doc id (the
    interval merge).  A boilerplate window shared by millions of docs
    is a hot fingerprint, but its groupBy payload is a count, and the
    dup rows return to their OWN documents' partitions for the merge —
    no pair explosion anywhere (unlike pairwise dedup, the output is
    per-document, not per-pair).  The merge window sorts only each
    document's duplicated positions (<= its token count).
    """
    if window_tokens <= 0:
        raise ValueError(f"window_tokens must be positive, got {window_tokens}")
    w = window_tokens
    toks = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).where(F.size("__toks") >= w)
    wins = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - w),
                lambda i: F.array_join(F.slice("__toks", i + 1, w), " "),
            )
        ).alias("pos", "__wt"),
    ).select(F.col(id_col), "pos", F.md5("__wt").alias("__fp"))
    # The window relation feeds TWO consumers (the multiplicity
    # aggregate and the semi-join probe side) whose exchanges cannot be
    # reused (the aggregate's partial stage sits below its exchange), so
    # without a checkpoint the tokenize + O(n*w) window-string build + md5
    # scan runs twice — measured ~2x the query at sf0.1 (r11, guide
    # §5: cache only when recompute costs more than the memory
    # pressure; here recompute is the corpus's most expensive map).
    # (id, pos, fp) is far narrower than the window strings themselves;
    # Checkpoint blocks spill to disk rather than evicting under
    # pressure.
    wins = wins.localCheckpoint(eager=False)
    # fingerprint multiplicity: groupBy + semi-join back (both sides
    # partial-aggregate; a window-function count would materialize
    # every hot fingerprint's rows in one task)
    dup_fps = (
        wins.groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .select("__fp")
    )
    dup = wins.join(dup_fps, "__fp", "left_semi").select(F.col(id_col), "pos")
    # interval merge: positions are window STARTS covering [pos, pos+w);
    # a new span begins when the gap to the previous start exceeds w
    # (strictly: pos > prev_pos + w means [prev) and [pos) are disjoint
    # AND non-adjacent; pos == prev_pos + w is adjacent -> merge)
    ww = Window.partitionBy(id_col).orderBy("pos")
    flagged = dup.withColumn(
        "__brk",
        F.when(
            F.lag("pos").over(ww).isNull()
            | (F.col("pos") - F.lag("pos").over(ww) > w),
            1,
        ).otherwise(0),
    ).withColumn(
        "__g",
        F.sum("__brk").over(
            ww.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy(F.col(id_col), F.col("__g")).agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + w).cast("long").alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
    ).select(id_col, "span_start", "span_end", "n_windows")


def scrub_duplicate_substrings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_tokens: int = 16,
) -> DataFrame:
    """Apply ``duplicate_substring_spans`` as a filter: drop every
    token inside a duplicated span and reassemble the survivors in
    order.  Returns (id, n_tokens, n_removed, clean_text); documents
    with no duplicated span pass through with n_removed = 0.

    Scale: the span list rides a left join keyed on the doc id (spans
    are per-document and few); the token drop is a map-side
    array-filter against the doc's own collected span array.
    """
    w = window_tokens
    spans = (
        duplicate_substring_spans(df, id_col, text_col, w)
        .groupBy(id_col)
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
        )
    )
    toks = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    joined = toks.join(spans, id_col, "left")
    covered = lambda i: F.exists(  # noqa: E731
        F.col("__spans"),
        lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
    )
    kept = F.when(
        F.col("__spans").isNull(), F.col("__toks")
    ).otherwise(
        F.filter(F.col("__toks"), lambda t, i: ~covered(i))
    )
    return joined.select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )
