"""Round-13 optimization pins: the Arrow-native shingle kernel must be
row-identical to the per-row Python loop it replaced, the cpu_partitioned
private-API probe must fall back to the public path, and the pooled-job
helper must surface every failure."""

import pyspark.sql.functions as F
import pytest


# -- arrow shingle kernel ---------------------------------------------------

_EDGE_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, None),  # null text: no grams
    (4, ""),  # empty string: one empty token
    (5, "one"),  # shorter than n=2,3
    (6, "a  b"),  # consecutive spaces keep the empty token (str.split(' '))
    (7, "a b a b a b a b"),  # repeated grams: per-doc DISTINCT
    (8, "x y z"),  # exactly n tokens for n=3
    (9, "köln über straße tokens with ünïcode bytes in them"),
    (10, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11"),
]


def _python_reference_pairs(docs, n):
    """The r12 per-row loop kernel, verbatim semantics."""
    out = set()
    for i, t in docs:
        toks = t.split(" ") if isinstance(t, str) else []
        if len(toks) >= n:
            for g in {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}:
                out.add((i, g))
    return out


@pytest.mark.parametrize("n", [1, 2, 3])
def test_shingle_kernel_matches_python_reference(spark, n):
    from streaming_feature_store_spark.operators.dedup import _shingle_index

    df = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    got = {
        (r["doc_id"], r["sh"])
        for r in _shingle_index(df, "text", "doc_id", n).collect()
    }
    ref_pairs = sorted(_python_reference_pairs(_EDGE_DOCS, n))
    if ref_pairs:
        ref_df = spark.createDataFrame(ref_pairs, "doc_id long, gram string")
        want = {
            (r["doc_id"], r["sh"])
            for r in ref_df.select(
                "doc_id", F.xxhash64("gram").alias("sh")
            ).collect()
        }
    else:
        want = set()
    assert got == want


@pytest.mark.parametrize("n", [1, 2, 3])
def test_shingle_kernel_null_doc_mid_batch(spark, n):
    """Regression pin: a null text FOLLOWED by real docs in the SAME
    Arrow batch must not shift the later docs' gram offsets (the filled
    '' of a null doc still occupies a slot in the flattened token
    buffer; the first kernel draft zeroed its length and misaligned
    every subsequent doc).  coalesce(1) forces one batch."""
    from streaming_feature_store_spark.operators.dedup import _shingle_index

    # enough docs that EVERY post-repartition Arrow batch interleaves
    # null and non-null texts (cpu_partitioned round-robins small
    # inputs across the core count, so a handful of rows would land one
    # doc per batch and never exercise the offset math)
    docs = []
    for i in range(600):
        if i % 3 == 0:
            docs.append((i, None))
        elif i % 3 == 1:
            docs.append((i, ""))
        else:
            docs.append((i, f"tok{i} alpha beta gamma w{i % 7} delta"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_id"], r["sh"])
        for r in _shingle_index(df, "text", "doc_id", n).collect()
    }
    ref_pairs = sorted(_python_reference_pairs(docs, n))
    ref_df = spark.createDataFrame(ref_pairs, "doc_id long, gram string")
    want = {
        (r["doc_id"], r["sh"])
        for r in ref_df.select("doc_id", F.xxhash64("gram").alias("sh")).collect()
    }
    assert got == want


def test_shingle_kernel_matches_reference_on_corpus(spark, tmp_path):
    """Same pin over the real sf0.001 documents table (natural text,
    id distribution, parquet-sourced batches)."""
    from streaming_feature_store_spark.operators.dedup import _shingle_index

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    docs = [(r["doc_id"], r["text"]) for r in df.collect()]
    got = {
        (r["doc_id"], r["sh"])
        for r in _shingle_index(df, "text", "doc_id", 3).collect()
    }
    ref_pairs = sorted(_python_reference_pairs(docs, 3))
    ref_df = spark.createDataFrame(ref_pairs, "doc_id long, gram string")
    want = {
        (r["doc_id"], r["sh"])
        for r in ref_df.select("doc_id", F.xxhash64("gram").alias("sh")).collect()
    }
    assert got == want


# -- cpu_partitioned private-API fallback (VERDICT r12 #7) ------------------


class _FlakyJdf:
    """Raises on the private plan probe, delegates everything else to the
    real java DataFrame — models a Spark upgrade moving the internal API
    while the public df.rdd path keeps working."""

    def __init__(self, real):
        self._real = real

    def queryExecution(self):  # noqa: N802 — py4j camelCase
        raise RuntimeError("private API moved in this Spark version")

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_cpu_partitioned_falls_back_to_public_probe(spark):
    from streaming_feature_store_spark.operators.text import cpu_partitioned

    par = spark.sparkContext.defaultParallelism
    df = spark.createDataFrame([(i, f"t{i}") for i in range(20)],
                               "id long, text string").coalesce(1)
    # decision via the fast private probe
    fast = cpu_partitioned(df)
    # decision via the fallback: same repartition outcome
    flaky = spark.createDataFrame([(i, f"t{i}") for i in range(20)],
                                  "id long, text string").coalesce(1)
    flaky._jdf = _FlakyJdf(flaky._jdf)
    slow = cpu_partitioned(flaky)
    assert fast.rdd.getNumPartitions() == par
    assert slow.rdd.getNumPartitions() == par
    # and a frame already wider than the core count is returned as-is
    wide = spark.range(1000).repartition(par * 2)
    assert cpu_partitioned(wide) is wide


# -- pooled-job failure aggregation (ADVICE r12) ----------------------------


def test_run_concurrent_surfaces_every_failure():
    from streaming_feature_store_spark.poolutil import run_concurrent

    ran = []

    def ok():
        ran.append("ok")
        return 42

    def boom_a():
        raise ValueError("root A torn")

    def boom_b():
        raise OSError("root B torn")

    with pytest.raises(RuntimeError) as ei:
        run_concurrent([boom_a, ok, boom_b])
    # every job ran; BOTH failures are named in the one aggregate error
    assert ran == ["ok"]
    assert "root A torn" in str(ei.value) and "root B torn" in str(ei.value)
    # single failure propagates as-is
    with pytest.raises(ValueError):
        run_concurrent([boom_a, ok])
    assert run_concurrent([ok]) == [42]
    assert run_concurrent([]) == []


def test_run_concurrent_reraises_interrupts():
    import threading

    from streaming_feature_store_spark.poolutil import run_concurrent

    release = threading.Event()

    def interrupted():
        raise KeyboardInterrupt

    def slow_ok():
        release.wait(10)
        return 1

    # the interrupt surfaces as itself, before the still-running job ends
    with pytest.raises(KeyboardInterrupt):
        run_concurrent([interrupted, slow_ok])
    assert not release.is_set()
    release.set()

    def exits():
        raise SystemExit(3)

    with pytest.raises(SystemExit):
        run_concurrent([slow_ok, exits])


# -- interval-spec guard (ADVICE r12) ---------------------------------------


def test_interval_seconds_rejects_nonascii_digits():
    from streaming_feature_store_spark.operators.windows import (
        _interval_seconds,
    )

    assert _interval_seconds("5 minutes") == 300
    # U+00B2 SUPERSCRIPT TWO passes str.isdigit() but int() rejects it:
    # must fall back (None), not raise
    assert _interval_seconds("² minutes") is None


# -- distributed KS CDF ≡ single-sort form (q54) -----------------------------


def test_ks_drift_report_matches_single_sort_form(spark):
    """The r13 range-partitioned prefix-sum CDF must reproduce the r12
    single-sort window form BIT-identically (exact long sums → identical
    per-row doubles → identical max)."""
    from pyspark.sql import Window

    from streaming_feature_store_spark.cacheutil import release_all
    from streaming_feature_store_spark.operators.drift import (
        _ks_pvalue,
        drift_severity,
        ks_drift_report,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").withColumn(
        "grp", F.col("l_returnflag") == "R"
    )
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

    def single_sort_reference(df, cols, group_col, alpha=0.05):
        stack_expr = ", ".join(f"'{c}', `{c}`" for c in cols)
        long = df.selectExpr(
            f"stack({len(cols)}, {stack_expr}) as (feature, value)", group_col
        )
        counts = long.groupBy("feature", "value").agg(
            F.sum(F.when(F.col(group_col), 1).otherwise(0)).alias("_c1"),
            F.sum(F.when(~F.col(group_col), 1).otherwise(0)).alias("_c2"),
        )
        w = (
            Window.partitionBy("feature")
            .orderBy("value")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        tot = Window.partitionBy("feature")
        n1 = F.sum("_c1").over(tot)
        n2 = F.sum("_c2").over(tot)
        diff = F.abs(
            F.sum("_c1").over(w) / n1.cast("double")
            - F.sum("_c2").over(w) / n2.cast("double")
        )
        per_feature = (
            counts.select("feature", diff.alias("_d"), n1.alias("_n1"), n2.alias("_n2"))
            .groupBy("feature")
            .agg(
                F.max("_d").alias("_ks"),
                F.first("_n1").alias("_n1"),
                F.first("_n2").alias("_n2"),
            )
        )
        p = _ks_pvalue(F.col("_ks"), F.col("_n1"), F.col("_n2"))
        return per_feature.select(
            "feature",
            F.round(F.col("_ks"), 6).alias("ks_stat"),
            F.round(p, 6).alias("p_value"),
            (p < alpha).alias("is_drifted"),
            drift_severity(p, alpha).alias("severity"),
        )

    got = sorted(map(tuple, ks_drift_report(li, cols, "grp").collect()))
    want = sorted(map(tuple, single_sort_reference(li, cols, "grp").collect()))
    assert got == want
    release_all()


# -- random_projection expr-string form ≡ Column-DSL form --------------------


def test_random_projection_matches_column_dsl_form(spark):
    import math

    from streaming_feature_store_spark.operators.similarity import (
        _dot,
        as_double_vec,
        projection_signs,
        random_projection,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    out_dim = 16

    def column_dsl_reference(df):
        signs = projection_signs(dim, out_dim, 0)
        inv = 1.0 / math.sqrt(out_dim)
        v = as_double_vec(df, "embedding")
        comps = [
            (_dot(F.col("embedding"), F.lit(s)) * inv).alias(f"_p{j}")
            for j, s in enumerate(signs)
        ]
        return v.select(F.col("vec_id"), *comps).select(
            "vec_id",
            F.array(*[f"_p{j}" for j in range(out_dim)]).alias("embedding"),
        )

    got = {r["vec_id"]: r["embedding"] for r in random_projection(emb, dim, out_dim).collect()}
    want = {r["vec_id"]: r["embedding"] for r in column_dsl_reference(emb).collect()}
    assert got == want  # bit-identical doubles: same fold expression
