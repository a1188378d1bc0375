"""Text analysis operators for corpus curation (beyond-reference):
quality scoring, language-ID heuristic, token counting, fingerprinting.

All JVM-side expressions (no Python UDFs): these run over every document
of a 100 TB corpus, so they must stay inside whole-stage codegen.
Outputs are integers/strings only — hash-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import md5_60
from ..functions.text import STOP_WORDS, fingerprint, tokens

# Tiny per-language marker sets for the heuristic language ID.  The
# heuristic is deterministic and mirrors what an n-gram classifier does
# in spirit; accuracy is secondary to it being an identical computation
# in Spark and the oracle.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "is", "you", "that"),
    "fr": ("le", "la", "et", "les", "des", "une"),
    "es": ("el", "los", "que", "una", "por", "con"),
    "de": ("der", "die", "und", "das", "ein", "nicht"),
    "zh": ("de", "shi", "le", "wo", "ni", "ta"),
}


def text_quality(
    df: DataFrame, id_col: str, text_col: str, keep: tuple = ()
) -> DataFrame:
    """Per-document quality features:
    (id, [keep...], n_tokens, n_chars, n_stop, mean_token_len_x100,
    quality_pct).

    quality_pct is a 0..100 integer score: penalizes empty/short docs and
    rewards stopword presence (a fluency proxy) and moderate token
    length — the standard cheap-quality-filter recipe.

    The score is pure per-row math, so pipelines that also need other
    columns (e.g. the text itself for a downstream stage) pass them in
    ``keep`` and chain instead of joining back on the id — composition
    stays a single narrow projection over one scan.
    """
    # Materialize the token array and per-row counts in staged
    # projections so the tokenizer runs once per row (see text.ngrams).
    staged = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        tokens(F.col(text_col)).alias("__toks"),
    )
    stop_arr = F.array(*[F.lit(w) for w in STOP_WORDS])
    t = F.col("__toks")
    staged = staged.select(
        id_col,
        *keep,
        "n_chars",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_intersect(t, stop_arr)).cast("long").alias("n_stop"),
        F.aggregate(
            F.transform(t, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
        ).alias("__tok_chars"),
    )
    n_tok = F.col("n_tokens")
    mean_len_x100 = F.when(
        n_tok > 0, F.floor(F.col("__tok_chars") * 100 / n_tok)
    ).otherwise(0)
    stop_frac_pct = F.when(
        n_tok > 0, F.floor(F.col("n_stop") * 100 / n_tok)
    ).otherwise(0)
    quality = F.least(
        F.lit(100),
        F.greatest(
            F.lit(0),
            F.least(n_tok, F.lit(40)) + F.least(stop_frac_pct, F.lit(30)) * 2,
        ),
    )
    return staged.select(
        F.col(id_col),
        *keep,
        "n_tokens",
        "n_chars",
        "n_stop",
        mean_len_x100.cast("long").alias("mean_token_len_x100"),
        quality.cast("long").alias("quality_pct"),
    )


def lang_id(
    df: DataFrame, id_col: str, text_col: str, keep: tuple = ()
) -> DataFrame:
    """Heuristic language ID: count marker-word hits per language over
    the distinct token set; argmax with deterministic tie-break on
    language code order.  Returns (id, [keep...], pred_lang, best_hits).

    Pure per-row math — ``keep`` passes extra columns through so
    pipelines chain the classifier inline instead of joining back on
    the id (see text_quality)."""
    staged = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.array_distinct(tokens(F.lower(F.col(text_col)))).alias("__toks"),
    )
    t = F.col("__toks")
    scored = staged.select(
        F.col(id_col),
        *keep,
        *[
            F.size(
                F.array_intersect(t, F.array(*[F.lit(w) for w in words]))
            ).alias(f"__{lang}")
            for lang, words in LANG_MARKERS.items()
        ],
    )
    langs = sorted(LANG_MARKERS)  # deterministic tie-break: alphabetical
    best_lang = F.lit(langs[0])
    best_hits = F.col(f"__{langs[0]}")
    for lang in langs[1:]:
        better = F.col(f"__{lang}") > best_hits
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(better, F.col(f"__{lang}")).otherwise(best_hits)
    return scored.select(
        F.col(id_col),
        *keep,
        best_lang.alias("pred_lang"),
        best_hits.cast("long").alias("best_hits"),
    )


def doc_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fp): md5 fingerprint of normalized text (dedup/lineage key)."""
    return df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))


# GPT-2-style pre-tokenizer shape, simplified to what Java regex and
# RE2 (the DuckDB oracle) interpret identically: letter runs, digit
# runs, and single non-alphanumeric marks.  Real BPE would merge within
# these pieces, so this counts an upper bound of BPE tokens — the
# standard cheap estimator for token budgets.
BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token-budget estimators:
    (id, n_ws_tokens, n_bpe_tokens, bpe_per_100_ws).

    n_ws_tokens counts whitespace-delimited words; n_bpe_tokens counts
    BPE-ish pieces (see BPE_ISH_PATTERN); bpe_per_100_ws is their ratio
    as an exact integer percent (100 = one piece per word).
    """
    staged = df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[^ ]+"), 0)).alias("__ws"),
        F.size(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_ISH_PATTERN), 0)
        ).alias("__bpe"),
    )
    return staged.select(
        id_col,
        F.col("__ws").cast("long").alias("n_ws_tokens"),
        F.col("__bpe").cast("long").alias("n_bpe_tokens"),
        F.when(F.col("__ws") > 0, F.expr("__bpe * 100 div __ws"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("bpe_per_100_ws"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-token-budget chunks with overlap —
    the context-window packing step of a training pipeline.  Returns
    (id, chunk_idx long, n_chunk_tokens long, chunk_text string); docs
    whose whole text fits produce exactly one chunk, empty docs none.

    Chunk i covers tokens [1 + i*step, 1 + i*step + chunk_tokens) with
    step = chunk_tokens - overlap; start positions run to
    max(n_tokens - overlap, 1) so a tail shorter than the overlap (a
    strict subset of the previous chunk) is never emitted.

    Plan: one generator expression per doc (tokenize once, slice per
    start) — JVM-side, no shuffle, no UDF; chunking 100 TB is purely
    map-side and parallel in the scan.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    step = chunk_tokens - overlap
    staged = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).where(F.size("__toks") > 0)
    chunks = staged.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(size(__toks) - {overlap}, 1),"
                f" {step}), s -> slice(__toks, s, {chunk_tokens}))"
            )
        ).alias("chunk_idx", "__chunk"),
    )
    return chunks.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("__chunk").cast("long").alias("n_chunk_tokens"),
        F.array_join("__chunk", " ").alias("chunk_text"),
    )


def pack_sequences(
    chunks: DataFrame,
    id_col: str,
    idx_col: str,
    tok_col: str,
    budget: int,
) -> DataFrame:
    """Sequence packing — the training step after chunking: lay all
    chunks end to end in the deterministic (id, chunk_idx) order and
    cut every ``budget`` tokens into one training sequence.  Each chunk
    is attributed to the sequence where its FIRST token lands:
    (id, chunk_idx, n_tokens, seq_id, seq_offset) with
    ``seq_id = start div budget``, ``seq_offset = start mod budget``,
    ``start`` = exclusive prefix sum of token counts.

    Scale: the prefix sum is the two-level range-shuffle form
    (partition-local running sums + broadcast partition offsets,
    operators/sort.py: with_global_prefix_sum) — no global window, so
    packing 100 TB of chunks is one range shuffle.  All outputs are
    exact integers.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from .sort import with_global_prefix_sum

    summed = with_global_prefix_sum(
        chunks, [id_col, idx_col], tok_col, out_col="__cum"
    )
    summed = summed.withColumn(
        "__start", (F.col("__cum") - F.col(tok_col)).cast("long")
    )
    return summed.select(
        id_col,
        idx_col,
        F.col(tok_col).cast("long").alias("n_tokens"),
        F.expr(f"__start div {int(budget)}").cast("long").alias("seq_id"),
        (F.col("__start") % F.lit(int(budget))).cast("long").alias("seq_offset"),
    )


def cooccurrence_pmi(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_pairs: int = 1,
    max_tokens_per_doc: int | None = None,
) -> DataFrame:
    """Document-level word co-occurrence with pointwise mutual
    information: (w1, w2, n_ab, pmi_micronat) over unordered distinct
    word pairs (w1 < w2), with
    ``pmi = ln(n_ab * N / (n_a * n_b))`` in integer micro-nats
    (N = document count, n_x = documents containing x).

    Plan: pairs are generated MAP-SIDE from each document's distinct
    token array (no self-join of the exploded token relation, which
    would shuffle the corpus twice and build the same pairs with a
    join).  Only the upper triangle is generated — element i pairs
    with ``slice(__ws, i+2, ...)`` — so a doc with d distinct tokens
    builds exactly d*(d-1)/2 structs, never the d^2
    generate-then-filter intermediate.  One shuffle aggregates pair
    counts; per-word document counts are vocabulary-sized and
    broadcast back onto the pair relation twice.  The ln argument is
    assembled integer-exact (products first, one division) so both
    engines round the same double.

    ``max_tokens_per_doc`` caps the per-doc distinct-token set (kept
    by highest in-doc frequency, ties to the lexicographically
    smaller token) BEFORE pairing.  This is the 100 TB guard: without
    it one 10k-distinct-token document materializes ~5*10^7 pair
    structs in a single row — an executor-OOM hazard.  Word document
    counts (n_a, n_b) are computed over the same capped sets so the
    PMI stays self-consistent.
    """
    # N as a lazy 1-row aggregate broadcast onto the result — not an
    # eager driver-side count(), so the whole query is one Spark job
    # (the count branch scans only the id column).
    n_docs_df = (
        df.select(F.col(id_col))
        .groupBy()
        .agg(F.count(F.lit(1)).alias("__n_docs"))
    )
    words = df.select(
        F.col(id_col),
        F.array_distinct(F.array_sort(tokens(F.col(text_col)))).alias("__ws"),
    )
    if max_tokens_per_doc is not None:
        if max_tokens_per_doc <= 0:
            raise ValueError(
                f"max_tokens_per_doc must be positive, got {max_tokens_per_doc}"
            )
        # Rank each doc's distinct tokens by (frequency desc, token asc)
        # via lexicographic struct sort, keep the top N, then re-sort
        # alphabetically so the triangle generator's w1 < w2 invariant
        # holds.  The frequency count reuses the raw token array — one
        # tokenizer pass, all map-side.
        toks_raw = tokens(F.col(text_col)).alias("__raw")
        words = df.select(F.col(id_col), toks_raw).select(
            F.col(id_col),
            F.array_sort(
                F.transform(
                    F.slice(
                        F.array_sort(
                            F.transform(
                                F.array_distinct("__raw"),
                                lambda t: F.struct(
                                    (
                                        -F.size(
                                            F.filter(
                                                "__raw", lambda x: x == t
                                            )
                                        )
                                    ).alias("negcnt"),
                                    t.alias("w"),
                                ),
                            )
                        ),
                        1,
                        max_tokens_per_doc,
                    ),
                    lambda p: p["w"],
                )
            ).alias("__ws"),
        )
    # The capped token-set relation feeds BOTH the pair generator and
    # the per-word document counts; unmaterialized, the tokenizer and the
    # O(d*n) frequency-rank expression above evaluate twice (r11,
    # guide §5).  Checkpointed rows are (id, <=max_tokens_per_doc tokens) —
    # tiny next to the corpus.

    words = words.localCheckpoint(eager=False)
    pairs = words.select(
        F.col(id_col),
        F.explode(
            F.flatten(
                F.transform(
                    "__ws",
                    lambda x, i: F.transform(
                        F.slice(F.col("__ws"), i + F.lit(2), F.size("__ws")),
                        lambda y: F.struct(x.alias("w1"), y.alias("w2")),
                    ),
                )
            )
        ).alias("__p"),
    ).select(id_col, F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    wc = (
        words.select(F.explode("__ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = (
        pc.join(
            F.broadcast(wc.select(F.col("w").alias("w1"), F.col("n").alias("__na"))),
            "w1",
        )
        .join(
            F.broadcast(wc.select(F.col("w").alias("w2"), F.col("n").alias("__nb"))),
            "w2",
        )
        .where(F.col("n_ab") >= min_pairs)
        .crossJoin(F.broadcast(n_docs_df))
    )
    return joined.select(
        "w1",
        "w2",
        "n_ab",
        F.round(
            F.lit(1_000_000.0)
            * F.log(
                (F.col("n_ab") * F.col("__n_docs")).cast("double")
                / (F.col("__na") * F.col("__nb")).cast("double")
            )
        )
        .cast("long")
        .alias("pmi_micronat"),
    )


def dedup_spans(
    df: DataFrame, id_col: str, text_col: str, span_tokens: int = 128
) -> DataFrame:
    """Corpus-wide span-level dedup (the RefinedWeb/C4 recipe): chunk
    every document into non-overlapping ``span_tokens`` spans, keep
    only the FIRST occurrence of each span text across the corpus
    (ordered by (id, position) — deterministic), and reassemble.
    Returns (id, n_spans, n_kept, dedup_text); empty docs produce no
    row (no spans), fully-duplicated docs survive with n_kept=0 and
    empty text.

    Scale: one shuffle keyed by span text (the dedup decision) and one
    keyed by doc id (reassembly) — each span crosses the wire once.
    The keep-first window sorts only within a span's duplicate set;
    near-universal spans (boilerplate) are the skew risk, bounded by
    dup-count, and their payload is one span, not a document.
    """
    chunks = chunk_documents(df, id_col, text_col, span_tokens, overlap=0)
    from pyspark.sql import Window

    w = Window.partitionBy("chunk_text").orderBy(F.col(id_col), "chunk_idx")
    marked = chunks.withColumn(
        "__keep", (F.row_number().over(w) == 1).cast("int")
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("__keep").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(
                            F.struct("chunk_idx", "__keep", "chunk_text")
                        )
                    ),
                    lambda s: s["__keep"] == 1,
                ),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("dedup_text"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dup_n: int = 3,
    top_n: int = 2,
    keep: tuple = (),
) -> DataFrame:
    """Per-document repetition features (the Gopher-style repetition
    filter, adapted to unstructured token streams):
    (id, n_tokens, dup_ngram_ppm, top_ngram_ppm).

    dup_ngram_ppm  = fraction of ``dup_n``-grams that are repeats of an
                     earlier gram in the same doc, in exact ppm.
    top_ngram_ppm  = share of the single most frequent ``top_n``-gram
                     among all the doc's ``top_n``-grams, in exact ppm.

    Highly repetitive machine-generated or boilerplate docs light up
    both; natural text stays low.  All ratios are exact integer DIV
    (hash-stable across engines).

    Scale: the dup fraction is pure map-side array math (array_distinct
    per row).  The top-gram share needs per-(doc, gram) counts — one
    partial-agged shuffle keyed by (id, gram), then a second tiny one
    on id; docs shorter than ``top_n`` tokens are preserved via the
    left join (0 ppm).
    """
    from ..functions.text import ngrams as _ngrams

    staged = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        tokens(F.col(text_col)).alias("__toks"),
    ).select(
        F.col(id_col),
        *keep,
        F.size("__toks").cast("long").alias("n_tokens"),
        _ngrams(F.col("__toks"), dup_n).alias("__dg"),
        _ngrams(F.col("__toks"), top_n).alias("__tg"),
    )
    map_side = staged.select(
        F.col(id_col),
        *keep,
        "n_tokens",
        # long BEFORE the 1e6 multiply — int would overflow past ~2k
        # duplicate grams per doc.
        F.size("__dg").cast("long").alias("__dtot"),
        (F.size("__dg") - F.size(F.array_distinct("__dg")))
        .cast("long")
        .alias("__ddup"),
        F.col("__tg"),
    ).withColumn(
        "dup_ngram_ppm",
        F.when(F.col("__dtot") > 0, F.expr("1000000 * __ddup div __dtot"))
        .otherwise(F.lit(0))
        .cast("long"),
    )

    per_gram = (
        staged.select(F.col(id_col), F.explode("__tg").alias("__g"))
        .groupBy(id_col, "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    top = per_gram.groupBy(id_col).agg(
        F.max("__c").alias("__top"), F.sum("__c").alias("__ttot")
    )
    return (
        map_side.join(top, id_col, "left")
        .select(
            id_col,
            *keep,
            "n_tokens",
            "dup_ngram_ppm",
            F.when(
                F.col("__ttot") > 0, F.expr("1000000 * __top div __ttot")
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("top_ngram_ppm"),
        )
    )


def contamination(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with an evaluation set.  Returns
    (id, n_shared_ngrams) for CONTAMINATED train docs only (clean docs
    produce no row — the caller anti-joins to drop flagged ids).

    Scale: the eval side (benchmarks) is tiny next to a 100 TB corpus,
    so its distinct shingle set is broadcast — the corpus is scanned
    once, map-side joined, and only matching (id, gram) pairs reach the
    final per-doc aggregation.  13-gram is the common published
    setting; 8 here because the synthetic corpus vocabulary is small.
    """
    from ..functions.text import shingles_from_tokens

    ev = (
        eval_set.select(
            F.explode(
                shingles_from_tokens(tokens(F.col(text_col)), n)
            ).alias("__g")
        )
        .distinct()
    )
    tr = train.select(
        F.col(id_col),
        F.explode(shingles_from_tokens(tokens(F.col(text_col)), n)).alias(
            "__g"
        ),
    )
    return (
        tr.join(F.broadcast(ev), "__g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def tf_idf_topk(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Top-``k`` terms per document by tf·idf:
    (id, word, tf, tfidf) with ``tfidf = tf * ((N * 1e6) div df)`` —
    reciprocal document frequency scaled to integers, so the score is
    EXACT (integer division, no float log) and hash-identical in any
    engine.  Ties break by word ascending; rank is total-ordered.

    Scale: one (doc, word) shuffle builds term frequencies; document
    frequency is a word-keyed aggregate of that same relation (its
    exchange is reused, so the corpus is tokenized once) and is
    vocabulary-sized, so it BROADCASTS back onto the tf relation; the
    final per-doc top-k is one shuffle on the doc id — the same shuffle
    any per-group top-k pays.  N rides as a lazy 1-row aggregate
    broadcast onto the scored relation (the cooccurrence_pmi
    discipline) — no eager driver-side count(), so the whole query is
    ONE Spark job.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    n_docs_df = (
        df.select(F.col(id_col))
        .groupBy()
        .agg(F.count(F.lit(1)).cast("long").alias("__n_docs"))
    )
    tf = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # count_if(tf > 0) == count(*), but reading tf keeps both branches'
    # tf subtrees identical, so the (doc, word) exchange is reused
    # instead of re-tokenizing (column pruning would strip tf's count
    # from a count(*) branch and defeat the reuse).
    dfreq = tf.groupBy("word").agg(F.count_if(F.col("tf") > 0).alias("dfreq"))
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(n_docs_df))
        .select(
            F.col(id_col),
            F.col("word"),
            F.col("tf"),
            F.expr("tf * ((__n_docs * 1000000) div dfreq)").alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def bigram_surprisal(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document bigram-LM negative log-likelihood with add-one
    smoothing — the CCNet-style language-model quality filter,
    generalizing unigram_surprisal to conditional probabilities:
    (id, n_bigrams, nll_micronat, mean_micronat) over
    ``P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)`` with corpus bigram
    count c(w1 w2), left-context total c(w1 ·), and observed unigram
    vocabulary size V.  Docs with fewer than two tokens have no
    bigrams and produce no row.

    Each DISTINCT bigram's surprisal ``round(-1e6 * ln(...))`` is an
    integer BEFORE the per-doc sum, so the document aggregate is an
    order-independent exact integer and every ln() sees the same three
    integers in any engine.

    Scale: unlike the unigram table, corpus bigram types do NOT fit
    one executor at 100 TB — so the scoring join back onto the
    (doc, bigram) tf relation keys on the bigram, the key the counts
    aggregate just shuffled on (co-partitioned sort-merge join, no
    broadcast).  Left-context totals are unigram-vocabulary-sized and
    broadcast; V rides in as a broadcast one-row aggregate (no eager
    driver count).
    """
    from ..functions.text import ngrams as _ngrams

    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    tf = (
        base.select(
            F.col(id_col), F.explode(_ngrams(F.col("__toks"), 2)).alias("bg")
        )
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    cab = tf.groupBy("bg").agg(F.sum("tf").alias("cab"))
    ca = (
        cab.withColumn("w1", F.substring_index("bg", " ", 1))
        .groupBy("w1")
        .agg(F.sum("cab").alias("ca"))
    )
    vocab = (
        base.select(F.explode("__toks").alias("w"))
        .agg(F.count_distinct("w").alias("V"))
    )
    s = (
        cab.withColumn("w1", F.substring_index("bg", " ", 1))
        .join(F.broadcast(ca), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            F.round(
                F.lit(-1_000_000.0)
                * F.log(
                    (F.col("cab") + 1).cast("double")
                    / (F.col("ca") + F.col("V")).cast("double")
                )
            )
            .cast("long")
            .alias("s_micronat"),
        )
    )
    return (
        tf.join(s, "bg")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("s_micronat"))
            .cast("long")
            .alias("nll_micronat"),
        )
        .withColumn(
            "mean_micronat",
            F.expr("nll_micronat div n_bigrams").cast("long"),
        )
    )


def unigram_surprisal(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document unigram negative log-likelihood — the classic
    perplexity-style quality signal: (id, n_tokens, nll_micronat,
    mean_micronat) where each token contributes
    ``round(-1e6 * ln(count(word)/total_tokens))`` micro-nats.

    The per-WORD surprisal is rounded to an integer BEFORE the per-doc
    sum, so the document aggregate is an exact integer sum (order
    independent); only ~|vocab| distinct ln() evaluations exist, each
    computed from the same two integers in any engine.

    Scale: word counts are one vocabulary-sized aggregate that
    BROADCASTS back onto the (doc, word) tf relation (both read the same
    reused exchange, so the corpus tokenizes once); the per-doc rollup
    is one shuffle on the doc id.  Total corpus tokens rides as a lazy
    1-row aggregate broadcast onto the vocabulary (the cooccurrence_pmi
    discipline) — no eager driver-side collect, so the whole query is
    ONE Spark job.
    """
    tf = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wc = tf.groupBy("word").agg(F.sum("tf").alias("cnt"))
    # sum over an empty corpus is NULL; 1 keeps the (never-evaluated)
    # ln() argument well-formed so empty input yields empty output
    total_df = wc.groupBy().agg(
        F.coalesce(F.sum("cnt"), F.lit(1)).cast("double").alias("__total")
    )
    surprisal = wc.crossJoin(F.broadcast(total_df)).select(
        "word",
        F.round(
            F.lit(-1_000_000.0)
            * F.log(F.col("cnt").cast("double") / F.col("__total"))
        )
        .cast("long")
        .alias("s_micronat"),
    )
    return (
        tf.join(F.broadcast(surprisal), "word")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("s_micronat")).cast("long").alias(
                "nll_micronat"
            ),
        )
        .withColumn(
            "mean_micronat", F.expr("nll_micronat div n_tokens").cast("long")
        )
    )


def surprisal_mixture(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 4,
) -> DataFrame:
    """Perplexity-bucketed mixture accounting: split the corpus into
    ``n_buckets`` quality tiers by per-doc unigram surprisal and report
    each tier's document/token mass — the accounting step behind
    perplexity-filtered or difficulty-mixed training data.  Output
    (bucket 1..n, n_docs, sum_tokens, min_mean_micronat,
    max_mean_micronat), all exact integers.

    Scale: bucket BOUNDARIES are (n_buckets - 1) exact
    percentile_disc scalars — one aggregate over the per-doc surprisal
    relation, riding as a lazy 1-row relation broadcast onto the
    classification pass (the cooccurrence_pmi discipline — no eager
    driver collect, one Spark job).  Bucket ASSIGNMENT is then a
    map-side comparison chain (no global window, no ntile over the
    corpus — an ntile would be a single-partition sort at 100 TB).
    The boundary branch and the classification branch read the same
    surprisal subtree, whose exchanges are reused, so the corpus
    tokenizes once.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    s = unigram_surprisal(df, id_col, text_col)
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    bounds_df = s.groupBy().agg(
        *[
            F.expr(
                f"percentile_disc({frac}) WITHIN GROUP "
                f"(ORDER BY mean_micronat)"
            ).alias(f"__b{i}")
            for i, frac in enumerate(fracs)
        ]
    )
    bucket = F.lit(1)
    for i in range(len(fracs)):
        bucket = bucket + F.when(
            F.col("mean_micronat") > F.col(f"__b{i}"), 1
        ).otherwise(0)
    return (
        s.crossJoin(F.broadcast(bounds_df))
        .withColumn("bucket", bucket.cast("long"))
        .drop(*[f"__b{i}" for i in range(len(fracs))])
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.min("mean_micronat").cast("long").alias("min_mean_micronat"),
            F.max("mean_micronat").cast("long").alias("max_mean_micronat"),
        )
    )


def build_vocab(df: DataFrame, text_col: str, vocab_size: int) -> DataFrame:
    """Corpus vocabulary: the ``vocab_size`` most frequent tokens,
    ids 1..vocab_size dense by (count DESC, word ASC) — fully
    deterministic (id 0 is reserved for unknown).  Returns (word, wid).

    Scale: one word-count shuffle, then TakeOrdered(vocab_size); the
    row_number window runs over only vocab_size rows (metadata scale,
    like sort-boundary offsets — not corpus data).
    """
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), "word")
        .limit(vocab_size)
    )
    w = Window.orderBy(F.col("__c").desc(), "word")
    return counts.select(
        "word", F.row_number().over(w).cast("long").alias("wid")
    )


def encode_tokens(
    df: DataFrame, id_col: str, text_col: str, vocab: DataFrame
) -> DataFrame:
    """Encode documents against (word, wid) ``vocab``:
    (id, n_tokens, n_unk, ids_str) with ids_str the space-joined id
    sequence in token order and unknown tokens mapped to 0.

    Scale: the vocab broadcasts (even a 1M-word vocab is ~tens of MB);
    the token stream is position-exploded, map-side joined, and
    regrouped by document — ONE shuffle keyed by doc id, which any
    per-document reassembly pays.  Docs with no tokens produce no row
    (same as the SQL unnest form).
    """
    pos = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("__p", "__w"),
    )
    enc = pos.join(
        F.broadcast(vocab), pos.__w == vocab.word, "left"
    ).select(
        F.col(id_col),
        F.col("__p"),
        F.coalesce(F.col("wid"), F.lit(0)).alias("__wid"),
    )
    return enc.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("__wid") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_unk"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__p", "__wid"))),
                lambda s: s["__wid"].cast("string"),
            ),
            " ",
        ).alias("ids_str"),
    )


def batch_by_length(
    df: DataFrame,
    order_cols: list[str],
    tok_col: str,
    batch_size: int,
    batch_col: str = "batch_id",
) -> DataFrame:
    """Length-bucketed batch assignment — the padding-minimization step
    for UNPACKED training: order sequences by (token count, tiebreaker
    ids) and cut every ``batch_size`` rows into one batch, so each
    batch holds near-equal lengths and pad-to-max waste is minimal
    (vs random batching, where one long outlier pads the whole batch).
    Adds ``batch_col = (rank - 1) div batch_size`` to every row.

    Scale: the global length order is with_global_rank's two-level
    range shuffle (operators/sort.py) — no single-partition window, so
    batching 100 TB of sequences is one range shuffle keyed by length.
    """
    if batch_size <= 0:
        raise ValueError(f"batch_size must be positive, got {batch_size}")
    from .sort import with_global_rank

    ranked = with_global_rank(
        df, [tok_col, *order_cols], rank_col="__rn"
    )
    return ranked.withColumn(
        batch_col,
        F.expr(f"(__rn - 1) div {int(batch_size)}").cast("long"),
    ).drop("__rn")


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 256,
) -> DataFrame:
    """Hashed-bag-of-words linear quality classifier (fasttext/DSIR
    style): token -> md5 bucket -> integer weight -> per-doc summed
    score + keep decision.  (id, score_milli long, n_tokens long,
    pred_keep boolean).  The weight table is a deterministic surrogate
    (Knuth multiplicative hash of the bucket id — no trained model in
    this container); a real model swaps in as a ``buckets``-row
    broadcast join without changing the plan: one map-side expression
    tree + one doc-key aggregate, corpus moves once.
    """
    bucket = md5_60(F.col("__word")) % buckets
    w = (bucket * F.lit(2654435761)) % 1001 - 500
    return (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__word"))
        .select(F.col(id_col), w.alias("__w"))
        .groupBy(id_col)
        .agg(
            F.sum("__w").alias("score_milli"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(
            F.col(id_col),
            "score_milli",
            "n_tokens",
            (F.col("score_milli") > 0).alias("pred_keep"),
        )
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25-family retrieval: top-``k`` documents for a bag of query
    terms — (id, score_micro long).  Rational-idf variant: idf(t) =
    (N - df + 0.5) / (df + 0.5), i.e. the inside of classical BM25's
    log, WITHOUT the log.  That substitution (monotone in df, so
    per-term rankings agree) is what makes the score engine-exact: no
    libm ln() whose last-ulp rounding could differ between engines.
    Each (doc, term) partial score is ONE fixed IEEE tree over exact
    integers (tf, df, dl, N, sum_dl) rounded to micro units, and the
    per-doc score is a LONG sum of those micros — order-independent,
    so the oracle hash-matches (the q92 z-score float discipline).

    Scale: postings for the query terms only (the IN filter prunes
    before the doc-frequency join), corpus stats are a broadcast 1-row
    aggregate, and top-k compiles to TakeOrderedAndProject.  The
    inverted-index substrate is q05's.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__w")
    )
    # checkpointed: doclen and the query-term hits both derive from it —
    # without the checkpoint each branch re-tokenizes the corpus (same
    # lifecycle as tf_idf_topk's tf relation)
    postings = (
        tok.groupBy(id_col, "__w")
        .agg(F.count(F.lit(1)).alias("__tf"))
        .localCheckpoint(eager=False)
    )
    doclen = postings.groupBy(id_col).agg(F.sum("__tf").alias("__dl"))
    corpus = doclen.groupBy().agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__dl").alias("__sdl")
    )
    hits = postings.where(F.col("__w").isin(list(query_terms)))
    dfreq = hits.groupBy("__w").agg(F.count(F.lit(1)).alias("__df"))
    j = (
        hits.join(F.broadcast(dfreq), "__w")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(corpus))
    )
    tf = F.col("__tf").cast("double")
    dfd = F.col("__df").cast("double")
    dl = F.col("__dl").cast("double")
    n = F.col("__n").cast("double")
    sdl = F.col("__sdl").cast("double")
    idf = (n - dfd + 0.5) / (dfd + 0.5)
    denom = tf + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * dl * n / sdl)
    term_micro = F.round(
        idf * (tf * F.lit(k1 + 1.0) / denom) * F.lit(1_000_000.0)
    ).cast("long")
    return (
        j.select(F.col(id_col), term_micro.alias("__m"))
        .groupBy(id_col)
        .agg(F.sum("__m").alias("score_micro"))
        .orderBy(F.col("score_micro").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_topk_multi(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: DataFrame,
    query_id_col: str,
    query_term_col: str,
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Batch BM25 retrieval for a TABLE of queries — the RAG-corpus
    shape: score every (query, candidate) pair and keep each query's
    top ``k`` documents.  (query_id, id, score_micro, rn.)

    Same rational-idf / integer-micro float discipline as
    :func:`bm25_topk`.  Scale shape: ``queries`` is (query_id, term)
    rows — BROADCAST onto the postings, so the corpus-sized posting
    relation is filtered map-side by the semi of all query terms and
    each surviving posting fans out only to the queries containing its
    term.  Per-query doc frequencies reuse ONE (term, df) aggregate
    across all queries; the final top-k is a window over the
    (query, candidate) relation — partitioned BY QUERY, so no global
    sort and no single-partition window at any corpus size.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    q = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(query_term_col).alias("__w")
    ).distinct()
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__w")
    )
    postings = (
        tok.groupBy(id_col, "__w")
        .agg(F.count(F.lit(1)).alias("__tf"))
        .localCheckpoint(eager=False)
    )
    doclen = postings.groupBy(id_col).agg(F.sum("__tf").alias("__dl"))
    corpus = doclen.groupBy().agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__dl").alias("__sdl")
    )
    hits = postings.join(
        F.broadcast(q.select("__w").distinct()), "__w", "left_semi"
    )
    dfreq = hits.groupBy("__w").agg(F.count(F.lit(1)).alias("__df"))
    j = (
        hits.join(F.broadcast(q), "__w")
        .join(F.broadcast(dfreq), "__w")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(corpus))
    )
    tf = F.col("__tf").cast("double")
    dfd = F.col("__df").cast("double")
    dl = F.col("__dl").cast("double")
    n = F.col("__n").cast("double")
    sdl = F.col("__sdl").cast("double")
    idf = (n - dfd + 0.5) / (dfd + 0.5)
    denom = tf + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * dl * n / sdl)
    term_micro = F.round(
        idf * (tf * F.lit(k1 + 1.0) / denom) * F.lit(1_000_000.0)
    ).cast("long")
    scored = (
        j.select("__qid", F.col(id_col), term_micro.alias("__m"))
        .groupBy("__qid", id_col)
        .agg(F.sum("__m").alias("score_micro"))
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col(id_col),
            "score_micro",
            F.col("rn").cast("int"),
        )
    )


def bm25_freeze_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
) -> tuple[dict, int, int]:
    """Driver-side frozen BM25 corpus statistics for ``terms``:
    ({term: doc_frequency}, n_docs, sum_doc_len).  The result is
    query-term-sized (a handful of longs — the k-means-centers
    collect discipline), which is what makes map-side scoring of a
    STREAM possible: the stats ride as plan literals, no join, no
    state."""
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__w")
    )
    postings = tok.groupBy(id_col, "__w").agg(F.count(F.lit(1)).alias("__tf"))
    doclen = postings.groupBy(id_col).agg(F.sum("__tf").alias("__dl"))
    [c] = doclen.groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("__dl").alias("sdl")
    ).collect()
    dfs = {
        r["__w"]: r["df"]
        for r in postings.where(F.col("__w").isin(list(terms)))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    return {t: int(dfs.get(t, 0)) for t in terms}, int(c["n"]), int(c["sdl"])


def bm25_score_frozen(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: dict,
    stats: dict,
    n_docs: int,
    sum_dl: int,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score documents against frozen-stat BM25 queries ENTIRELY
    map-side: (id, query_id, score_micro) per (doc, query) with at
    least one matching term.  ``queries`` maps query_id -> term list;
    ``stats``/``n_docs``/``sum_dl`` come from :func:`bm25_freeze_stats`
    over the reference corpus.  Per-term tf is an array fold over the
    document's own tokens and every constant folds into codegen — no
    join, no aggregation, no state, so the same expression runs
    unchanged on a STREAMING DataFrame (the frozen-snapshot discipline
    of the Bloom decontaminator).  Scores are identical to
    ``bm25_topk_multi`` over the stats corpus (pinned by test): the
    rational-idf tree, per-term integer micros, long sum.
    """
    toks = tokens(F.col(text_col))
    dl = F.size(toks).cast("double")
    n = float(n_docs)

    def _match(term: str):
        # single-arg lambda via closure: a defaulted second parameter
        # would make Spark bind the array INDEX to it (filter's (x, i)
        # form) and shadow the term
        return lambda x: x == F.lit(term)

    rows = []
    for qid, terms in queries.items():
        per_term = []
        matches = []
        for t in terms:
            dfq = float(stats.get(t, 0))
            if dfq <= 0:
                continue
            tf = F.size(F.filter(toks, _match(t))).cast("double")
            idf = (n - dfq + 0.5) / (dfq + 0.5)
            denom = tf + F.lit(k1) * (
                F.lit(1.0) - F.lit(b) + F.lit(b) * dl * F.lit(n) / F.lit(float(sum_dl))
            )
            micro = F.round(
                F.lit(idf) * (tf * F.lit(k1 + 1.0) / denom) * F.lit(1_000_000.0)
            ).cast("long")
            per_term.append(F.when(tf > 0, micro).otherwise(F.lit(0)))
            matches.append(tf > 0)
        if not per_term:
            continue
        score = per_term[0]
        matched = matches[0]
        for m, cond in zip(per_term[1:], matches[1:]):
            score = score + m
            matched = matched | cond
        rows.append(
            F.struct(
                F.lit(int(qid)).alias("query_id"),
                score.alias("score_micro"),
                matched.alias("matched"),
            )
        )
    if not rows:
        raise ValueError("no query has any term present in the frozen stats")
    return (
        df.select(
            F.col(id_col),
            F.explode(F.array(*rows)).alias("__q"),
        )
        # keep every (doc, query) with a matching TERM — not
        # score_micro > 0, which would drop a matching doc whose
        # per-term micros all round to 0 (tiny idf at df ~ N) and
        # break score parity with bm25_topk_multi on that edge
        .where(F.col("__q.matched"))
        .select(F.col(id_col), "__q.query_id", "__q.score_micro")
    )


def compression_ratio(
    df: DataFrame, id_col: str, text_col: str, level: int = 6
) -> DataFrame:
    """Per-document zlib compressibility — the Gopher/MassiveText-style
    quality signal (templated/repetitive text compresses far better
    than natural prose): (id, raw_len, compressed_len, ratio_ppm) with
    ``ratio_ppm = round(1e6 * compressed/raw)`` (1_000_000 for empty
    text, by convention an incompressible no-op).

    DEFLATE at a fixed level/strategy is deterministic, so the signal
    is rerun- and partitioning-reproducible; there is no SQL spelling
    of DEFLATE, so this operator is unit-test-proven (stdlib-reference
    parity + semantic ordering) rather than catalog-oracled — the one
    documented exception to the every-entry-has-an-oracle rule, kept
    OUT of queries() for exactly that reason.

    Plan: stateless Arrow-batched mapInPandas (stdlib zlib executes
    executor-side per batch; only the four fixed-width columns come
    back).  Stateless means the identical operator runs on a
    streaming DataFrame.
    """
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw_lens, comp_lens, ratios = [], [], []
            for text in pdf[text_col]:
                raw = (text or "").encode("utf-8")
                comp = zlib.compress(raw, level)
                raw_lens.append(len(raw))
                comp_lens.append(len(comp))
                ratios.append(
                    round(1_000_000 * len(comp) / len(raw))
                    if raw
                    else 1_000_000
                )
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "raw_len": raw_lens,
                    "compressed_len": comp_lens,
                    "ratio_ppm": ratios,
                }
            )

    return df.select(F.col(id_col).alias("id"), F.col(text_col)).mapInPandas(
        fn,
        schema="id long, raw_len long, compressed_len long, ratio_ppm long",
    )


def nb_token_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    buckets: int = 512,
) -> DataFrame:
    """TRAINED hashed bag-of-words classifier (the quality-classifier
    step of an LLM data pipeline — fasttext-shaped, Naive-Bayes-style):
    unlike ``hashed_linear_score``'s fixed surrogate weights, the
    weights here are LEARNED from the corpus itself.  Token occurrences
    hash into ``buckets`` feature buckets; each bucket's weight is its
    smoothed in-class occurrence rate minus the global prior, in
    integer micro units:

        w(b) = ((n_label(b)+1)*1e6) div (n(b)+2)
             - ((n_label+1)*1e6) div (n+2)

    so a bucket whose tokens skew toward the labeled class gets a
    positive weight.  Every document is then scored as the sum of its
    tokens' bucket weights: (id, score_micro, n_tokens, pred_label =
    score_micro > 0).  Integer ``div`` end to end — no log/float, so
    the score is bit-reproducible by any engine (the module's md5
    discipline; a real log-likelihood model swaps in as the same
    ``buckets``-row broadcast join without changing the plan).

    Scale: training is ONE token-bucket aggregate (map-side partial,
    ``buckets`` rows out); the global prior is a second aggregate OVER
    THE BUCKET TABLE (buckets rows, not the corpus); scoring joins the
    corpus to the broadcast weight table and sums per doc.  The
    tokenized frame is checkpointed so train + score read the corpus
    once.  No shuffle is corpus-wide except the per-doc score
    aggregate, which partial-aggregates map-side.
    """
    tb, weights = _nb_weight_frames(df, id_col, text_col, label_col, buckets)
    return (
        tb.join(F.broadcast(weights), "__b")
        .groupBy(id_col)
        .agg(
            F.sum("__w").cast("long").alias("score_micro"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
        .select(
            F.col(id_col),
            "score_micro",
            "n_tokens",
            (F.col("score_micro") > 0).alias("pred_label"),
        )
    )


def _nb_bucket(col, buckets: int):
    """md5 feature bucket in [0, buckets) — the module's oracle-
    reproducible hash family (same recipe as hashed_linear_score)."""
    return md5_60(col) % buckets


def _nb_weight_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    buckets: int,
):
    """Shared trainer for the NB-style classifier: returns
    (token-bucket frame checkpointed, weight frame (__b, __w)) — the
    batch classifier joins the weights back, the freezer collects
    them (buckets rows, centers-sized)."""
    if buckets <= 0:
        raise ValueError(f"buckets must be positive, got {buckets}")

    scale = 1_000_000
    tb = (
        df.select(
            F.col(id_col),
            F.col(label_col).cast("boolean").alias("__y"),
            F.explode(tokens(F.col(text_col))).alias("__word"),
        )
        .select(
            F.col(id_col), "__y", _nb_bucket(F.col("__word"), buckets).alias("__b")
        )
        .localCheckpoint(eager=False)
    )
    # checkpointed: the bucket table feeds BOTH the weights and the
    # prior, so the corpus-wide aggregate runs once (buckets rows kept)
    counts = tb.groupBy("__b").agg(
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__np"),
        F.count(F.lit(1)).alias("__n"),
    ).localCheckpoint(eager=False)
    prior = counts.agg(
        F.sum("__np").alias("__gp"), F.sum("__n").alias("__gn")
    )
    weights = counts.crossJoin(F.broadcast(prior)).select(
        "__b",
        (
            F.expr(f"((__np + 1) * {scale}) div (__n + 2)")
            - F.expr(f"((__gp + 1) * {scale}) div (__gn + 2)")
        ).cast("long").alias("__w"),
    )
    return tb, weights


def nb_freeze_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    buckets: int = 512,
) -> list[int]:
    """Driver-side frozen weight vector for the trained NB-style
    classifier: ``buckets`` integers (the k-means-centers collect
    discipline — model-sized, never corpus-sized).  Buckets no
    training token hashed into get the prior-neutral weight 0.  The
    vector is what makes map-side scoring of a STREAM possible: it
    rides as a plan literal, no join, no state (the frozen-snapshot
    discipline of bm25_freeze_stats / the Bloom decontaminator)."""
    _, weights = _nb_weight_frames(df, id_col, text_col, label_col, buckets)
    got = {int(r["__b"]): int(r["__w"]) for r in weights.collect()}
    return [got.get(b, 0) for b in range(buckets)]


def nb_score_frozen(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: list[int],
) -> DataFrame:
    """Score documents against a frozen trained-classifier weight
    vector ENTIRELY map-side: (id, score_micro, n_tokens, pred_label).
    The weight vector folds into the plan as a literal array and each
    token's weight is one element_at — no join, no aggregation, no
    state, so the identical expression scores a STREAMING DataFrame.

    Over the training corpus itself the scores equal
    ``nb_token_classifier`` exactly (every training token's bucket is
    in the table by construction — pinned by test).  On NEW data the
    frozen scorer additionally counts never-trained buckets at the
    neutral weight 0, where the batch operator's inner join would
    have dropped them; 0 is the smoothed no-evidence weight, so this
    is the semantics a deployed filter wants.  Empty documents (no
    tokens) are dropped, matching the batch operator."""
    buckets = len(weights)
    if buckets <= 0:
        raise ValueError("weights must be non-empty")
    arr = F.array(*[F.lit(int(w)) for w in weights])
    toks = tokens(F.col(text_col))
    per_tok = F.transform(
        toks,
        lambda w: F.element_at(arr, _nb_bucket(w, buckets).cast("int") + 1),
    )
    score = F.aggregate(
        per_tok, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return (
        df.select(
            F.col(id_col),
            score.alias("score_micro"),
            F.size(toks).cast("long").alias("n_tokens"),
        )
        .where(F.col("n_tokens") > 0)
        .withColumn("pred_label", F.col("score_micro") > 0)
    )
