"""ThemisJob: the reference's job-spec JSON re-expressed as the engine's
query IR, executed as a DataFrame pipeline.

Reference lifecycle (SURVEY §3.1): a Python generator builds
``{input_directory, output_directory, map_function, reduce_function,
partition_function, params}`` (``job_spec_generators/utils.py:5-31``),
pushed through Redis to the 4-phase C++ binary.  Here the same dict
drives a Spark plan:

    df = source -> map_fn(df) -> partition/sort -> reduce_fn -> sink

Phases 0-3 (sampling, shuffle, sort, external merge) collapse into
Catalyst + the shuffle machinery; ``run_in_sequence`` (multi-iteration
jobs like PageRank, ``pagerank.py:17-36``) is a Python loop.

The function registries mirror the reference factories
(``MapFunctionFactory.cc:24-118``, ``ReduceFunctionFactory.cc:1-53``,
``PartitionFunctionFactory.cc:1-55``): name -> pipeline fragment.  Map
and reduce fragments are DataFrame -> DataFrame transforms, so
registered "UDFs" stay declarative wherever semantics allow and
Catalyst can still optimize across the fragment boundary.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens

Fragment = Callable[[DataFrame, dict[str, Any]], DataFrame]

MAP_FUNCTIONS: dict[str, Fragment] = {}
REDUCE_FUNCTIONS: dict[str, Fragment] = {}
PARTITION_FUNCTIONS: dict[str, Fragment] = {}


def _register(registry: dict[str, Fragment], name: str):
    def deco(fn: Fragment) -> Fragment:
        registry[name] = fn
        return fn

    return deco


# ---- map functions (reference functions/map/*) ---------------------------
@_register(MAP_FUNCTIONS, "PassThroughMapFunction")
def _passthrough(df: DataFrame, params: dict) -> DataFrame:
    """Identity (PassThroughMapFunction.cc:1-6)."""
    return df


@_register(MAP_FUNCTIONS, "GrepMapFunction")
def _grep(df: DataFrame, params: dict) -> DataFrame:
    """Selectivity filter on the first value byte
    (GrepMapFunction.cc:176-183); params: MAX_KEY_VALUE (0-255)."""
    threshold = int(params.get("MAX_KEY_VALUE", 127))
    # unsigned first byte of the binary value, via hex -> base-10
    first_byte = F.conv(F.hex(F.substring(F.col("value"), 1, 1)), 16, 10).cast("int")
    return df.where(first_byte <= threshold)


@_register(MAP_FUNCTIONS, "RegexGrepMapFunction")
def _regex_grep(df: DataFrame, params: dict) -> DataFrame:
    """loggrep analog (src/loggrep/loggrep.cc:13-53): regex filter on a
    string value column; params: PATTERN, COLUMN."""
    col = params.get("COLUMN", "value")
    return df.where(F.col(col).rlike(params["PATTERN"]))


@_register(MAP_FUNCTIONS, "ZeroKeyMapFunction")
def _zero_key(df: DataFrame, params: dict) -> DataFrame:
    """Project key to empty -> single group (ZeroKeyMapFunction.cc:1-7)."""
    return df.withColumn("key", F.lit(b""))


@_register(MAP_FUNCTIONS, "BytesCountMapFunction")
def _bytes_count(df: DataFrame, params: dict) -> DataFrame:
    """Key := first N key bytes, value := 1
    (BytesCountMapFunction.cc:266-275); params: BYTES_COUNT_PREFIX_SIZE."""
    n = int(params.get("BYTES_COUNT_PREFIX_SIZE", 1))
    return df.select(
        F.substring(F.col("key"), 1, n).alias("key"), F.lit(1).cast("long").alias("value")
    )


@_register(MAP_FUNCTIONS, "WordCountMapFunction")
def _wordcount_map(df: DataFrame, params: dict) -> DataFrame:
    """Tokenize a string 'value' column into (key=word, value=1)
    (WordCountMapFunction.cc:89-114, minus the murmur key-compression
    trick — we keep the word itself as the key, SURVEY §4 item 3)."""
    col = params.get("COLUMN", "value")
    return (
        df.select(tokens(F.col(col)).alias("__toks"))
        .select(F.explode("__toks").alias("key"))
        .withColumn("value", F.lit(1).cast("long"))
    )


@_register(MAP_FUNCTIONS, "NGramMapFunction")
def _ngram_map(df: DataFrame, params: dict) -> DataFrame:
    """(key=n-gram, value=1) over a string column
    (NGramMapFunction.cc:58-100); params: NGRAM_COUNT, COLUMN."""
    from ..functions.text import ngrams

    n = int(params.get("NGRAM_COUNT", 3))
    col = params.get("COLUMN", "value")
    return (
        df.select(tokens(F.col(col)).alias("__toks"))
        .select(F.explode(ngrams(F.col("__toks"), n)).alias("key"))
        .withColumn("value", F.lit(1).cast("long"))
    )


@_register(MAP_FUNCTIONS, "TupleLengthCounterMapFunction")
def _tuple_lengths(df: DataFrame, params: dict) -> DataFrame:
    """Emit (tag, length) := 1 for key/value/tuple lengths
    (TupleLengthCounterMapFunction.cc:284-318)."""
    kl = F.length(F.col("key"))
    vl = F.length(F.col("value"))
    tagged = df.select(
        F.explode(
            F.array(
                F.struct(F.lit("key").alias("tag"), kl.alias("len")),
                F.struct(F.lit("value").alias("tag"), vl.alias("len")),
                F.struct(F.lit("tuple").alias("tag"), (kl + vl).alias("len")),
            )
        ).alias("kv")
    )
    return tagged.select(
        F.concat_ws(":", F.col("kv.tag"), F.col("kv.len").cast("string")).alias("key"),
        F.lit(1).cast("long").alias("value"),
    )


@_register(MAP_FUNCTIONS, "CombiningWordCountMapFunction")
def _combining_wordcount_map(df: DataFrame, params: dict) -> DataFrame:
    """Same logical op as WordCountMapFunction — the reference variant
    adds an in-map combiner (CombiningWordCountMapFunction.cc), which
    here is Catalyst's automatic partial aggregation (SURVEY §4)."""
    return _wordcount_map(df, params)


@_register(MAP_FUNCTIONS, "InvertedIndexMapFunction")
def _inverted_index_map(df: DataFrame, params: dict) -> DataFrame:
    """(key=word, value=document) postings emission
    (InvertedIndexMapFunction.cc:12-49); params: COLUMN (text),
    DOC_COLUMN (document id)."""
    col = params.get("COLUMN", "value")
    doc = params.get("DOC_COLUMN", "key")
    return (
        df.select(F.col(doc).alias("__doc"), tokens(F.col(col)).alias("__toks"))
        .select(F.explode("__toks").alias("key"), F.col("__doc").alias("value"))
    )


@_register(MAP_FUNCTIONS, "KMeansMapFunction")
def _kmeans_map(df: DataFrame, params: dict) -> DataFrame:
    """Assign each vector to its nearest center
    (KMeansMapFunction.cc:188-214); params: KCENTERS (list of centers),
    COLUMN (array column).  Output (key=cluster, value=vector)."""
    from ..operators.kmeans import assign_clusters

    centers = params["KCENTERS"]
    col = params.get("COLUMN", "value")
    return assign_clusters(df, col, centers, out_col="key").select(
        F.col("key").cast("long").alias("key"), F.col(col).alias("value")
    )


@_register(MAP_FUNCTIONS, "PageRankMapFunction")
def _pagerank_map(df: DataFrame, params: dict) -> DataFrame:
    """Edge scatter (PageRankMapFunction.cc:108-143): re-emit the
    structural tuple, send rank/degree to each neighbor, and a dangling
    vertex sends its whole rank to itself.  Input (vid, rank, adj);
    output (key, kind 'S'|'C', adj, contrib)."""
    struct_rows = df.select(
        F.col("vid").alias("key"),
        F.lit("S").alias("kind"),
        F.col("adj").alias("adj"),
        F.lit(None).cast("double").alias("contrib"),
    )
    deg = F.size("adj")
    contribs = df.where(deg > 0).select(
        F.explode("adj").alias("key"),
        F.lit("C").alias("kind"),
        F.lit(None).cast("array<long>").alias("adj"),
        (F.col("rank") / deg).alias("contrib"),
    )
    dangling = df.where(deg == 0).select(
        F.col("vid").alias("key"),
        F.lit("C").alias("kind"),
        F.lit(None).cast("array<long>").alias("adj"),
        F.col("rank").alias("contrib"),
    )
    return struct_rows.unionByName(contribs).unionByName(dangling)


@_register(MAP_FUNCTIONS, "ParseNetworkMapFunction")
def _parse_network_map(df: DataFrame, params: dict) -> DataFrame:
    """Parse 'src dst' text edges (ParseNetworkMapFunction.cc:1-116);
    params: COLUMN."""
    col = params.get("COLUMN", "value")
    parts = F.split(F.trim(F.col(col)), r"\s+")
    return df.select(
        parts.getItem(0).cast("long").alias("src"),
        parts.getItem(1).cast("long").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())


@_register(MAP_FUNCTIONS, "WEXLinkExtractorMapFunction")
def _wex_link_map(df: DataFrame, params: dict) -> DataFrame:
    """(page, link target) per wiki link (WEXLinkExtractorMapFunction.cc:4-89);
    input: raw WEX lines in COLUMN."""
    from ..functions.wex import extract_links, parse_wex

    return extract_links(parse_wex(df, line_col=params.get("COLUMN", "value")))


@_register(MAP_FUNCTIONS, "WEXTextExtractorMapFunction")
def _wex_text_map(df: DataFrame, params: dict) -> DataFrame:
    """(page, plain text) (WEXTextExtractorMapFunction.cc:93-151)."""
    from ..functions.wex import extract_text, parse_wex

    return extract_text(parse_wex(df, line_col=params.get("COLUMN", "value")))


@_register(MAP_FUNCTIONS, "RatioMapFunction")
def _ratio_map(df: DataFrame, params: dict) -> DataFrame:
    """Data inflation: emit each tuple ~RATIO times under fresh keys
    (RatioMapFunction.cc:218-256).  Deterministic keys: hash of the
    original key and the copy index."""
    ratio = int(params.get("RATIO", 2))
    copies = F.explode(F.sequence(F.lit(0), F.lit(ratio - 1))).alias("__i")
    out = df.select("*", copies)
    return out.select(
        F.xxhash64(F.col("key"), F.col("__i")).alias("key"),
        F.col("value"),
    )


def _seeded_range(df: DataFrame, params: dict, default_n: int) -> DataFrame:
    n = int(params.get("NUM_TUPLES", default_n))
    return df.sparkSession.range(n)


@_register(MAP_FUNCTIONS, "GenRandomNetworkMapFunction")
def _gen_random_network(df: DataFrame, params: dict) -> DataFrame:
    """Seeded G(n, p)-style random edges, <= MAX_NEIGHBORS per vertex
    (GenRandomNetworkMapFunction.cc:1-122)."""
    seed = int(params.get("SEED", 42))
    nv = int(params.get("NUM_VERTICES", 1000))
    maxn = int(params.get("MAX_NEIGHBORS", 4))
    base = _seeded_range(df, params, nv).select(
        F.col("id").alias("vid"),
        F.floor(F.rand(seed) * (maxn + 1)).cast("int").alias("__deg"),
    )
    # sequence(1, 0) would DESCEND and emit rows — degree-0 vertices
    # must be filtered before the explode
    edges = base.where(F.col("__deg") > 0).select(
        "vid", F.explode(F.sequence(F.lit(1), F.col("__deg"))).alias("__j")
    )
    return edges.select(
        F.col("vid").alias("src"),
        F.floor(F.rand(seed + 1) * nv).cast("long").alias("dst"),
    )


@_register(MAP_FUNCTIONS, "GenPowerLawRandomNetworkMapFunction")
def _gen_powerlaw_network(df: DataFrame, params: dict) -> DataFrame:
    """Power-law out-degrees: deg ~ min(MAX_NEIGHBORS, 1/u)
    (GenPowerLawRandomNetworkMapFunction.cc:1-131)."""
    seed = int(params.get("SEED", 42))
    nv = int(params.get("NUM_VERTICES", 1000))
    maxn = int(params.get("MAX_NEIGHBORS", 64))
    base = _seeded_range(df, params, nv).select(
        F.col("id").alias("vid"),
        F.least(
            F.lit(maxn), F.floor(1.0 / (F.rand(seed) + 1e-9)).cast("int")
        ).alias("__deg"),
    )
    edges = base.where(F.col("__deg") > 0).select(
        "vid", F.explode(F.sequence(F.lit(1), F.col("__deg"))).alias("__j")
    )
    return edges.select(
        F.col("vid").alias("src"),
        F.floor(F.rand(seed + 1) * nv).cast("long").alias("dst"),
    )


@_register(MAP_FUNCTIONS, "GenRandomKMeansDataMapFunction")
def _gen_kmeans_data(df: DataFrame, params: dict) -> DataFrame:
    """Seeded random points (GenRandomKMeansDataMapFunction.cc:1-93);
    params: NUM_TUPLES, DIMENSION."""
    dim = int(params.get("DIMENSION", 8))
    seed = int(params.get("SEED", 42))
    base = _seeded_range(df, params, 1000)
    return base.select(
        F.col("id").alias("key"),
        F.array(*[F.rand(seed + i) for i in range(dim)]).alias("value"),
    )


@_register(MAP_FUNCTIONS, "GenRandomRatioDataMapFunction")
def _gen_ratio_data(df: DataFrame, params: dict) -> DataFrame:
    """Seeded random (key, value) tuples
    (GenRandomRatioDataMapFunction.cc:1-74)."""
    seed = int(params.get("SEED", 42))
    base = _seeded_range(df, params, 1000)
    return base.select(
        F.xxhash64(F.col("id"), F.lit(seed)).alias("key"),
        F.rand(seed).alias("value"),
    )


# ---- reduce functions (reference functions/reduce/*) ---------------------
@_register(REDUCE_FUNCTIONS, "IdentityReduceFunction")
def _identity_reduce(df: DataFrame, params: dict) -> DataFrame:
    """Emit groups unchanged (IdentityReduceFunction.cc:103-113)."""
    return df


@_register(REDUCE_FUNCTIONS, "SumValuesReduceFunction")
def _sum_values(df: DataFrame, params: dict) -> DataFrame:
    """Per-key sum (SumValuesReduceFunction.cc:42-72)."""
    return df.groupBy("key").agg(F.sum("value").alias("value"))


@_register(REDUCE_FUNCTIONS, "WordCountReduceFunction")
def _wordcount_reduce(df: DataFrame, params: dict) -> DataFrame:
    """Sum counts per word (WordCountReduceFunction.cc:6-35)."""
    return df.groupBy("key").agg(F.sum("value").alias("value"))


@_register(REDUCE_FUNCTIONS, "CountDuplicateKeysReduceFunction")
def _count_dups(df: DataFrame, params: dict) -> DataFrame:
    """Keys with count > 1 (CountDuplicateKeysReduceFunction.cc:77-99)."""
    return (
        df.groupBy("key")
        .agg(F.count(F.lit(1)).alias("value"))
        .where(F.col("value") > 1)
    )


@_register(REDUCE_FUNCTIONS, "InvertedIndexReduceFunction")
def _inverted_index(df: DataFrame, params: dict) -> DataFrame:
    """word -> sorted postings list (InvertedIndexReduceFunction.cc:119-158);
    expects (key=word, value=doc)."""
    return df.groupBy("key").agg(
        F.sort_array(F.collect_list("value")).alias("value")
    )


@_register(REDUCE_FUNCTIONS, "PageRankReduceFunction")
def _pagerank_reduce(df: DataFrame, params: dict) -> DataFrame:
    """Merge contribution and structural tuples per vertex
    (PageRankReduceFunction.cc:245-286): new rank = sum of contributions
    (0 when only structure arrived); contribution-only vertices are
    CREATED with an empty adjacency (the dangling rule, :265-276).
    Input is PageRankMapFunction's output shape."""
    merged = df.groupBy("key").agg(
        F.coalesce(
            F.sum(F.when(F.col("kind") == "C", F.col("contrib"))), F.lit(0.0)
        ).alias("rank"),
        F.max(F.when(F.col("kind") == "S", F.col("adj"))).alias("adj"),
    )
    return merged.select(
        F.col("key").alias("vid"),
        "rank",
        F.coalesce("adj", F.array().cast("array<long>")).alias("adj"),
    )


@_register(REDUCE_FUNCTIONS, "ClickLogSessionSummarizerReduceFunction")
def _sessionize_reduce(df: DataFrame, params: dict) -> DataFrame:
    """Anchor-reset sessionization
    (ClickLogSessionSummarizerReduceFunction.cc:168-222); params:
    THRESHOLD (same units as TS_COLUMN), USER/TS/URL column names."""
    from ..operators.sessionize import sessionize

    return sessionize(
        df,
        user_col=params.get("USER_COLUMN", "user_id"),
        ts_col=params.get("TS_COLUMN", "ts"),
        url_col=params.get("URL_COLUMN", "url"),
        threshold=int(params["THRESHOLD"]),
        order_tiebreak=tuple(params.get("TIEBREAK", ())),
    )


@_register(REDUCE_FUNCTIONS, "KMeansReduceFunction")
def _kmeans_reduce(df: DataFrame, params: dict) -> DataFrame:
    """Per-cluster centroid = element-wise mean of the member vectors
    (KMeansReduceFunction.cc:300-345).  Input (key=cluster,
    value=array); output (key, value=centroid array)."""
    exploded = df.select("key", F.posexplode("value").alias("__p", "__x"))
    per_dim = exploded.groupBy("key", "__p").agg(F.avg("__x").alias("__m"))
    return per_dim.groupBy("key").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__p", "__m"))),
            lambda s: s["__m"],
        ).alias("value")
    )


@_register(REDUCE_FUNCTIONS, "RatioReduceFunction")
def _ratio_reduce(df: DataFrame, params: dict) -> DataFrame:
    """Reduce-side inflation mirroring RatioMapFunction
    (RatioReduceFunction.cc:303-346)."""
    return _ratio_map(df, params)


@_register(REDUCE_FUNCTIONS, "GenPowerLawRandomNetworkReduceFunction")
def _powerlaw_adjacency_reduce(df: DataFrame, params: dict) -> DataFrame:
    """Collect generated edges into per-vertex adjacency
    (GenPowerLawRandomNetworkReduceFunction.cc)."""
    return df.groupBy(F.col("src").alias("vid")).agg(
        F.array_sort(F.collect_set("dst")).alias("adj")
    )


# ---- partition functions (reference functions/partition/*) ----------------
@_register(PARTITION_FUNCTIONS, "HashedBoundaryListPartitionFunction")
def _hash_partition(df: DataFrame, params: dict) -> DataFrame:
    """Hash partitioning — the default for MapReduce jobs
    (HashedBoundaryListPartitionFunction.cc:44-56)."""
    n = int(params.get("NUM_PARTITIONS", df.sparkSession.sparkContext.defaultParallelism))
    return df.repartition(n, "key")


@_register(PARTITION_FUNCTIONS, "BoundaryListPartitionFunction")
@_register(PARTITION_FUNCTIONS, "UniformPartitionFunction")
def _range_partition(df: DataFrame, params: dict) -> DataFrame:
    """Sampled range partitioning + in-partition sort = global order
    (BoundaryListPartitionFunction.cc:10-35 + phase 0/2 semantics).
    Uniform key-space scaling (UniformPartitionFunction.cc:78-90) is
    range partitioning without sampling; Spark's range partitioner is
    the closest declarative equivalent, so it shares this body."""
    n = int(params.get("NUM_PARTITIONS", df.sparkSession.sparkContext.defaultParallelism))
    return df.repartitionByRange(n, "key").sortWithinPartitions("key")


@_register(PARTITION_FUNCTIONS, "RandomNodePartitionFunction")
def _random_partition(df: DataFrame, params: dict) -> DataFrame:
    """Round-robin (RandomNodePartitionFunction.cc:115-125)."""
    n = int(params.get("NUM_PARTITIONS", df.sparkSession.sparkContext.defaultParallelism))
    return df.repartition(n)


@_register(PARTITION_FUNCTIONS, "SinglePartitionMergingPartitionFunction")
def _single_partition(df: DataFrame, params: dict) -> DataFrame:
    """Everything to one partition, sorted (merge jobs,
    SinglePartitionMergingPartitionFunction.cc:148-158)."""
    return _range_partition(df, {"NUM_PARTITIONS": 1})


@dataclass
class ThemisJob:
    """The job-spec IR (mirrors job_spec_generators/utils.py:5-31)."""

    map_function: str = "PassThroughMapFunction"
    reduce_function: str = "IdentityReduceFunction"
    partition_function: str = "HashedBoundaryListPartitionFunction"
    params: dict[str, Any] = field(default_factory=dict)
    input_table: str | None = None  # testdata table name, OR
    input_path: str | None = None  # parquet path

    @classmethod
    def from_spec(cls, spec: dict[str, Any]) -> "ThemisJob":
        return cls(
            map_function=spec.get("map_function", "PassThroughMapFunction"),
            reduce_function=spec.get("reduce_function", "IdentityReduceFunction"),
            partition_function=spec.get(
                "partition_function", "HashedBoundaryListPartitionFunction"
            ),
            params=dict(spec.get("params", {})),
            input_table=spec.get("input_table"),
            input_path=spec.get("input_directory"),
        )


def _resolve_source(
    spark: SparkSession,
    job: ThemisJob,
    df: DataFrame | None,
    sf_dir: str | None,
) -> DataFrame:
    if df is not None:
        return df
    if job.input_table is not None:
        from ..data import table

        return table(spark, sf_dir, job.input_table)
    if job.input_path is not None:
        return spark.read.parquet(job.input_path)
    raise ValueError("job needs input_table, input_path, or df")


def _sampled_bytes(df: DataFrame, n_rows: int) -> tuple[int, int]:
    """(total serialized bytes, rows) over the first ``n_rows`` rows —
    JSON length as a cheap, deterministic row-width estimator."""
    from pyspark.sql import functions as F

    agg = (
        df.limit(n_rows)
        .select(
            F.sum(
                F.length(F.to_json(F.struct(*[F.col(c) for c in df.columns])))
            ).alias("b"),
            F.count(F.lit(1)).alias("c"),
        )
        .first()
    )
    return int(agg["b"] or 0), int(agg["c"] or 0)


def sample_partition_count(
    spark: SparkSession,
    job: ThemisJob,
    df: DataFrame | None = None,
    sf_dir: str | None = None,
    *,
    sample_rows: int = 2000,
    target_partition_bytes: int = 128 << 20,
    min_partitions: int = 1,
    max_partitions: int = 16384,
) -> int:
    """Phase-0-style map-output-aware shuffle sizing.

    The reference's phase zero runs the REAL map function over input
    samples, records bytes-in vs bytes-out per sample
    (``mapreduce/common/PhaseZeroSampleMetadata.cc:12-76``), and sizes
    intermediate partitions from the measured inflation so that each
    downstream partition lands near a target byte size
    (``main.cc:1516-1536``: intermediate_data_size = input *
    outputRatio).  Spark's AQE coalesces small post-shuffle partitions
    at runtime, but it cannot RAISE the partition count above
    ``spark.sql.shuffle.partitions`` when a map inflates its input —
    this is the one phase-0 behavior with no built-in analog.

    Runs ``job``'s map fragment over a ``sample_rows`` prefix of the
    input, measures the byte ratio, scales by the estimated total
    input size, and returns ceil(total_out / target) clamped to
    [min_partitions, max_partitions].  Cost: two tiny sample jobs plus
    one count of the source.
    """
    import math

    src = _resolve_source(spark, job, df, sf_dir)
    in_bytes, in_rows = _sampled_bytes(src, sample_rows)
    if in_rows == 0 or in_bytes == 0:
        return min_partitions
    mapped = MAP_FUNCTIONS[job.map_function](src.limit(sample_rows), job.params)
    out_bytes, _ = _sampled_bytes(mapped, sample_rows * 64)
    total_rows = src.count()
    total_out = total_rows * (in_bytes / in_rows) * (out_bytes / in_bytes)
    return max(
        min_partitions,
        min(max_partitions, math.ceil(total_out / target_partition_bytes)),
    )


def run_job(
    spark: SparkSession,
    job: ThemisJob,
    df: DataFrame | None = None,
    sf_dir: str | None = None,
) -> DataFrame:
    """Execute one job spec: source -> map -> partition -> reduce.

    ``df`` overrides the source (for run_in_sequence chaining).  The
    partition step is applied only for identity reduces (sort jobs),
    where physical layout IS the result; aggregating reduces let
    Catalyst choose the shuffle, which already hash-partitions on the
    group key — forcing a pre-shuffle would double-shuffle.

    ``params["AUTO_PARTITIONS"]`` (truthy) sizes NUM_PARTITIONS from
    the measured map-output ratio (see sample_partition_count) unless
    the spec pinned an explicit NUM_PARTITIONS;
    ``params["TARGET_PARTITION_BYTES"]`` overrides the 128 MiB target.
    """
    df = _resolve_source(spark, job, df, sf_dir)

    if job.params.get("AUTO_PARTITIONS") and "NUM_PARTITIONS" not in job.params:
        n = sample_partition_count(
            spark,
            job,
            df=df,
            sf_dir=sf_dir,
            target_partition_bytes=int(
                job.params.get("TARGET_PARTITION_BYTES", 128 << 20)
            ),
        )
        job = replace(job, params={**job.params, "NUM_PARTITIONS": n})

    out = MAP_FUNCTIONS[job.map_function](df, job.params)
    if job.reduce_function == "IdentityReduceFunction":
        out = PARTITION_FUNCTIONS[job.partition_function](out, job.params)
    out = REDUCE_FUNCTIONS[job.reduce_function](out, job.params)
    return out


def run_in_sequence(
    spark: SparkSession,
    jobs: list[ThemisJob],
    df: DataFrame | None = None,
    sf_dir: str | None = None,
) -> DataFrame:
    """Chain jobs, each consuming the previous output
    (utils.run_in_sequence / pagerank.py:17-36)."""
    out = df
    for i, job in enumerate(jobs):
        out = run_job(spark, job, df=out if i or df is not None else None, sf_dir=sf_dir)
        out = out.localCheckpoint(eager=False) if i < len(jobs) - 1 else out
    return out


def run_shared_scan(
    spark: SparkSession,
    jobs: list[ThemisJob],
    df: DataFrame | None = None,
    sf_dir: str | None = None,
) -> list[DataFrame]:
    """Shared-scan multiplexing (R12): run several jobs' functions over
    ONE scan of the same input — the reference's
    ``MultiJobMapper``/``MultiJobDemux`` (``workers/mapper/
    MultiJobMapper.cc:1-75``, ``workers/multijobdemux/MultiJobDemux.h``),
    which pushes each input buffer through every job's map function so
    a 100 TB input is read once, not once per job.

    Spark-first: all jobs must share one source (ThemisJob.input_table /
    input_path must agree, or pass ``df``); the source is a lazy local
    checkpoint, so the first job's action materializes it and every
    other job reads its blocks instead of rescanning storage.  Returns
    the per-job outputs, in ``jobs`` order; the blocks belong to their
    lineage and are freed with them.
    """
    if not jobs:
        raise ValueError("run_shared_scan needs at least one job")
    if df is None:
        sources = {(j.input_table, j.input_path) for j in jobs}
        if len(sources) != 1:
            raise ValueError(
                f"shared-scan jobs must share one input, got {sorted(sources)}"
            )
    shared = _resolve_source(spark, jobs[0], df, sf_dir).localCheckpoint(
        eager=False
    )
    return [run_job(spark, job, df=shared, sf_dir=sf_dir) for job in jobs]
