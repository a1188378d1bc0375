"""Cross-engine parity of the integer similarity discipline itself.

q141's round-5 driver red proved float vector sums are NOT engine-
exact (summation order is an engine implementation detail).  These
tests pin the replacement discipline directly: Spark's
micro_quantize / idot / icos_ppm must produce BIT-IDENTICAL values to
DuckDB evaluating the shared SQL fragments on the same vectors —
including adversarial shapes (near-orthogonal pairs whose cos_ppm sits
on a rounding boundary, mixed magnitudes, negatives, float32 noise).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from pyspark.sql import functions as F

from themis_tritonsort_spark.functions.vectors import (
    icos_ppm,
    idot,
    micro_quantize,
)
from themis_tritonsort_spark.queries import (
    _ICOS_PPM_SQL,
    _ISELF_SQL,
    _MICROQ_SQL,
)


def _spark_pairs(spark, va: np.ndarray, vb: np.ndarray):
    rows = [
        (i, [float(x) for x in a], [float(y) for y in b])
        for i, (a, b) in enumerate(zip(va, vb))
    ]
    df = spark.createDataFrame(
        rows, "pair_id long, a array<float>, b array<float>"
    )
    qa = micro_quantize(F.col("a"))
    qb = micro_quantize(F.col("b"))
    out = (
        df.select(
            "pair_id",
            qa.alias("qa"),
            qb.alias("qb"),
        )
        .withColumn("na", idot(F.col("qa"), F.col("qa")))
        .withColumn("nb", idot(F.col("qb"), F.col("qb")))
        .where((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "pair_id",
            "qa",
            icos_ppm(
                F.col("qa"), F.col("na"), F.col("qb"), F.col("nb")
            ).alias("cos_ppm"),
        )
    )
    return {
        r["pair_id"]: (list(r["qa"]), r["cos_ppm"]) for r in out.collect()
    }


def _duck_pairs(va: np.ndarray, vb: np.ndarray):
    con = duckdb.connect()
    con.execute("CREATE TABLE pairs (pair_id BIGINT, a DOUBLE[], b DOUBLE[])")
    for i, (a, b) in enumerate(zip(va, vb)):
        con.execute(
            "INSERT INTO pairs VALUES (?, ?, ?)",
            [i, [float(x) for x in a], [float(y) for y in b]],
        )
    # float32 inputs: upcast exactly like Spark's array<float> ->
    # array<double> cast (both are exact widenings)
    sql = f"""
    WITH z AS (
      SELECT pair_id,
             {_MICROQ_SQL.format(v='a')} AS qa,
             {_MICROQ_SQL.format(v='b')} AS qb
      FROM pairs
    ),
    n AS (
      SELECT pair_id, qa, qb,
             {_ISELF_SQL.format(q='qa')} AS na,
             {_ISELF_SQL.format(q='qb')} AS nb
      FROM z
    )
    SELECT pair_id, qa,
           {_ICOS_PPM_SQL.format(a='qa', b='qb', na='na', nb='nb')} AS cos_ppm
    FROM n WHERE na > 0 AND nb > 0
    """
    got = {
        int(r[0]): (list(r[1]), int(r[2]))
        for r in con.execute(sql).fetchall()
    }
    con.close()
    return got


def _assert_parity(spark, va, vb, expect_rows=None):
    # float32 round-trip first: the real embeddings column is
    # array<float>, so quantization sees float32-rounded components
    va = va.astype(np.float32)
    vb = vb.astype(np.float32)
    s = _spark_pairs(spark, va, vb)
    d = _duck_pairs(va, vb)
    assert set(s) == set(d)
    if expect_rows is not None:
        assert len(s) == expect_rows
    for pid in s:
        assert s[pid][0] == d[pid][0], f"quantized vectors differ @ {pid}"
        assert s[pid][1] == d[pid][1], f"cos_ppm differs @ {pid}"


def test_icos_ppm_parity_random(spark):
    rng = np.random.RandomState(13)
    va = rng.standard_normal((200, 64)) * 0.2
    vb = rng.standard_normal((200, 64)) * 0.2
    _assert_parity(spark, va, vb, expect_rows=200)


def test_icos_ppm_parity_near_orthogonal(spark):
    # cos ~ 0: cos_ppm sits within a few ppm of a rounding boundary,
    # exactly where float folds used to flip across engines
    rng = np.random.RandomState(29)
    va = rng.standard_normal((200, 64))
    vb = rng.standard_normal((200, 64))
    # project out the parallel component so cosines cluster near zero
    dots = np.einsum("ij,ij->i", va, vb)
    nrm = np.einsum("ij,ij->i", va, va)
    vb = vb - (dots / nrm)[:, None] * va
    vb += rng.standard_normal((200, 64)) * 1e-6  # back off exact zero
    _assert_parity(spark, va, vb)


def test_icos_ppm_parity_mixed_magnitudes_and_negatives(spark):
    rng = np.random.RandomState(41)
    scales = np.array([1e-4, 1e-2, 1.0, 10.0, 100.0] * 8)
    va = rng.standard_normal((40, 16)) * scales[:, None][:40]
    vb = -rng.standard_normal((40, 16)) * scales[:, None][:40]
    _assert_parity(spark, va, vb)


def test_zero_and_subquantization_vectors_drop_identically(spark):
    # a true zero vector AND a vector whose every |component| < 0.5e-6
    # (quantizes to all zeros) must drop on BOTH engines
    va = np.array([[0.0] * 8, [1e-9] * 8, [0.3] * 8])
    vb = np.array([[0.2] * 8] * 3)
    _assert_parity(spark, va, vb, expect_rows=1)


def test_iband_buckets_parity_with_oracle_fragment(spark):
    """q142's candidate-set contract: the Arrow int64-matmul signature
    kernel (similarity.sign_band_rows) and the SQL literal fragment the
    oracle interpolates (queries._iband_sig_sql) must bucket every
    vector identically — THE precondition for the gated recall claim."""
    from themis_tritonsort_spark.operators.similarity import (
        _micro_sided,
        sign_band_rows,
        micro_planes,
    )
    from themis_tritonsort_spark.queries import (
        _MICROQ_SQL,
        _iband_sig_sql,
    )

    planes = micro_planes(dim=16, n_planes=8, seed=13)
    rng = np.random.RandomState(3)
    vecs = (rng.standard_normal((60, 16)) * 0.3).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sided = _micro_sided(df, "vec_id", "embedding", "vec_id")
    got = {
        (r["vec_id"], r["band"], r["band_sig"])
        for r in sign_band_rows(sided, "vec_id", "__q", planes, bands=4).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE e (vec_id BIGINT, v DOUBLE[])")
    for i, v in enumerate(vecs):
        con.execute(
            "INSERT INTO e VALUES (?, ?)", [i, [float(x) for x in v]]
        )
    sig = _iband_sig_sql(planes, bands=4)
    want = {
        (int(r[0]), int(r[1]) - 1, int(r[2]))  # SQL bands are 1-indexed
        for r in con.execute(
            f"""
            WITH z AS (
              SELECT vec_id, {_MICROQ_SQL.format(v='v')} AS q FROM e
            ),
            sig AS (SELECT vec_id, {sig} AS buckets FROM z)
            SELECT vec_id, generate_subscripts(buckets, 1) AS band,
                   unnest(buckets) AS bucket
            FROM sig
            """
        ).fetchall()
    }
    con.close()
    assert got == want and len(got) == 60 * 4


def test_micro_quantize_rounds_half_up_on_negatives(spark):
    # floor(x * 1e6 + 0.5): -0.0000005 -> 0, -0.0000015 -> -1,
    # +0.0000005 -> 1 (round-half-toward-+inf, NOT away-from-zero —
    # whatever the convention, both engines must share it; the pin
    # here is the definition)
    df = spark.createDataFrame(
        [([-0.0000005, -0.0000015, 0.0000005, 0.25],)], "v array<double>"
    )
    got = df.select(micro_quantize(F.col("v")).alias("q")).collect()[0]["q"]
    assert got == [0, -1, 1, 250000]

def test_micro_quantize_magnitude_guard(spark):
    """Components beyond the int64-safe bound (dim * max|q|^2 > 2^62)
    must FAIL LOUDLY, not wrap: non-ANSI Spark would silently wrap the
    integer dot where DuckDB raises — an undetected cross-engine
    divergence (ADVICE r06).  In-contract and empty inputs pass."""
    import pytest

    ok = spark.createDataFrame(
        [([0.5] * 64,), ([-1.2] * 64,), ([],)], "v array<double>"
    )
    rows = ok.select(micro_quantize(F.col("v")).alias("q")).collect()
    assert rows[0]["q"][0] == 500000 and rows[2]["q"] == []

    bad = spark.createDataFrame([([400.0] * 64,)], "v array<double>")
    with pytest.raises(Exception, match="int64-safe bound"):
        bad.select(micro_quantize(F.col("v")).alias("q")).collect()


def test_null_component_vectors_drop_on_both_engines(spark):
    """Round-7 review fix: DuckDB's list_sum SKIPS NULL terms while
    Spark's fold returns NULL, so before the explicit NULL guard in
    _ISELF_SQL/_IDOT_SQL a vector with one NULL component kept a
    positive norm in the oracle but was dropped by Spark's __n > 0 —
    a cross-engine candidate-set divergence.  Pin that BOTH engines
    now exclude partial-NULL vectors and keep the clean ones."""
    rows = [
        (0, [0.5, 0.25, -0.125, 0.0625]),   # clean — kept
        (1, [0.5, None, -0.125, 0.0625]),   # one NULL — dropped
        (2, [None, None, None, None]),      # all NULL — dropped
        (3, [0.0, 0.0, 0.0, 0.0]),          # zero norm — dropped
    ]
    df = spark.createDataFrame(rows, "vid long, v array<double>")
    kept_spark = sorted(
        r["vid"]
        for r in df.select(
            "vid", micro_quantize(F.col("v")).alias("q")
        )
        .withColumn("n", idot(F.col("q"), F.col("q")))
        .where(F.col("n") > 0)
        .collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE e (vid BIGINT, v DOUBLE[])")
    for vid, v in rows:
        con.execute("INSERT INTO e VALUES (?, ?)", [vid, v])
    kept_duck = sorted(
        int(r[0])
        for r in con.execute(f"""
            SELECT vid FROM (
              SELECT vid, {_ISELF_SQL.format(q='q')} AS nn FROM (
                SELECT vid, {_MICROQ_SQL.format(v='v')} AS q FROM e
              )
            ) WHERE nn > 0
        """).fetchall()
    )
    con.close()
    assert kept_spark == [0]
    assert kept_duck == [0]


def test_magnitude_guard_rejects_identically_on_both_engines(spark):
    """ADVICE r07: the Spark guard's sqrt(2^62/dim) bound is stricter
    than DuckDB's raw int64 overflow check (2^63), so _MICROQ_SQL now
    mirrors the SAME bound — pin that both engines reject the identical
    input set, including a just-inside / just-outside boundary pair
    that native overflow alone would NOT have caught."""
    import math

    dim = 64
    lim = math.sqrt(2**62 / dim)
    v_ok = (lim - 0.5) / 1e6 * 0.999999     # just inside the bound
    v_bad = (lim + 10.0) / 1e6              # outside OUR bound, but the
    # integer dot dim*(1e6*v_bad)^2 ~ 2^62 is still far below 2^63 —
    # DuckDB's native overflow check would have accepted it

    ok_vec = [v_ok] + [0.0] * (dim - 1)
    bad_vec = [v_bad] + [0.0] * (dim - 1)

    sdf = spark.createDataFrame([(ok_vec,)], "v array<double>")
    assert (
        sdf.select(micro_quantize(F.col("v")).alias("q")).collect()[0]["q"][0]
        > 0
    )
    bad_sdf = spark.createDataFrame([(bad_vec,)], "v array<double>")
    with pytest.raises(Exception, match="int64-safe bound"):
        bad_sdf.select(micro_quantize(F.col("v")).alias("q")).collect()

    con = duckdb.connect()
    q = _MICROQ_SQL.format(v="v")
    got = con.execute(
        f"SELECT {q} FROM (SELECT ?::DOUBLE[] AS v)", [ok_vec]
    ).fetchall()
    assert got[0][0][0] > 0
    with pytest.raises(Exception, match="int64-safe bound"):
        con.execute(
            f"SELECT {q} FROM (SELECT ?::DOUBLE[] AS v)", [bad_vec]
        ).fetchall()
