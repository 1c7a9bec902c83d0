"""Reference-parity ML pipeline operators, re-expressed Spark-first.

Reference mapping (SURVEY §2.A):
* R21 PCA(k=4): sklearn PCA at ``/root/reference/src/voice_classifier.py:54,121-123``
  → ``StandardScaler(withMean=True)`` + ``pyspark.ml.feature.PCA`` (MLlib
  PCA does not mean-center; the scaler restores sklearn parity).
* R26 mutual-information feature scoring: ``mutual_info_classif`` at
  ``voice_classifier.py:150-153`` → discretize + plug-in MI estimate as
  pure DataFrame aggregates (fully oracle-checkable here).
* R28 label encoding: ``LabelEncoder`` (alphabetical) at
  ``voice_classifier.py:173-174`` → ``StringIndexer(stringOrderType=
  "alphabetAsc")`` (the default frequencyDesc would break parity).
* R31 seeded split: ``train_test_split(random_state=42)`` at ``:187-188``
  → ``randomSplit(seed=42)``; split membership differs by RNG, so checks
  are statistical (rows-only + tests), never row-wise.
* R35/R36 CNN training: over a length-2 feature "sequence" the Conv1D
  stack degenerates to an MLP → ``MultilayerPerceptronClassifier``
  (documented divergence, SURVEY §7 hard parts).
* R44/R45/R46 confusion matrix / per-class PRF / argmax:
  ``voice_classifier.py:321-332,343-347`` → groupBy().pivot(), agg
  arithmetic, and array argmax — all oracle-checkable.
* R32 tensor reshape (``(n,2)→(n,2,1)``, voice_classifier.py:190-192):
  not needed — MLlib consumes flat vectors; a Conv1D input-shape-ism.
* R33 count distinct classes (voice_classifier.py:193): the
  ``n_classes`` distinct-count inside ``ml_mlp_train_eval`` below and
  ``ml_distinct_classes`` (operators/ml_inference.py).

Model persistence / inference lifecycle (R38–R42, R48/R49) lives in
operators/ml_inference.py.

Scale notes: MLlib PCA computes the Gramian with a tree-aggregate (one
pass, no N×N materialization); StringIndexer's label inventory is a
distinct-agg; MI is two groupBys over binned data. The only local-memory
object is the k×k covariance / label dictionary — all fine at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.functions.ranks import (
    prefix_sums,
    values_at_ranks,
)
from big_data_audio_classification_spark.functions.vector import to_double
from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table

MI_BINS = 8
MI_DIMS = 4  # score the first 4 embedding dimensions (R26 scores 4 PCs)


@query(
    "ml_label_encode",
    oracle="""
        WITH codes AS (
            SELECT lang, DENSE_RANK() OVER (ORDER BY lang) - 1 AS lang_code
            FROM (SELECT DISTINCT lang FROM documents)
        )
        SELECT d.doc_id, d.lang, c.lang_code
        FROM documents d JOIN codes c ON d.lang = c.lang
    """,
    tags=("ml", "encoding"),
)
def ml_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R28: StringIndexer(alphabetAsc) ≡ sklearn LabelEncoder's
    alphabetical codes; oracle reproduces via DENSE_RANK."""
    from pyspark.ml.feature import StringIndexer

    d = load_table(spark, sf_dir, "documents")
    idx = StringIndexer(
        inputCol="lang", outputCol="lang_code_d", stringOrderType="alphabetAsc"
    )
    out = idx.fit(d).transform(d)
    return out.select(
        "doc_id", "lang", F.col("lang_code_d").cast("bigint").alias("lang_code")
    )


@query(
    "ml_confusion_matrix",
    oracle="""
        SELECT label,
               COUNT(CASE WHEN vec_id % 3 = 0 THEN 1 END) AS pred_0,
               COUNT(CASE WHEN vec_id % 3 = 1 THEN 1 END) AS pred_1,
               COUNT(CASE WHEN vec_id % 3 = 2 THEN 1 END) AS pred_2
        FROM embeddings
        GROUP BY label
        ORDER BY label
    """,
    tags=("ml", "report"),
)
def ml_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R44 confusion-matrix pivot (voice_classifier.py:321-323) with a
    deterministic stand-in predictor so the oracle can reproduce it;
    the trained-model variant is ml_mlp_train_eval (rows-only)."""
    em = load_table(spark, sf_dir, "embeddings")
    return (
        em.select("label", F.pmod("vec_id", F.lit(3)).alias("pred"))
        .groupBy("label")
        .pivot("pred", [0, 1, 2])
        .count()
        .na.fill(0)
        .select(
            "label",
            F.col("0").alias("pred_0"),
            F.col("1").alias("pred_1"),
            F.col("2").alias("pred_2"),
        )
        .orderBy("label")
    )


@query(
    "ml_classification_report",
    oracle="""
        WITH p AS (SELECT label AS truth, vec_id % 3 AS pred FROM embeddings),
        cls AS (SELECT DISTINCT truth AS class FROM p),
        stats AS (
            SELECT class,
                   (SELECT COUNT(*) FROM p WHERE truth = class AND pred = class) AS tp,
                   (SELECT COUNT(*) FROM p WHERE pred = class AND truth <> class) AS fp,
                   (SELECT COUNT(*) FROM p WHERE truth = class AND pred <> class) AS fn
            FROM cls
        )
        SELECT class,
               ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS precision,
               ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS recall,
               ROUND(2.0 * tp / NULLIF(2.0 * tp + fp + fn, 0), 6) AS f1,
               tp + fn AS support
        FROM stats
        ORDER BY class
    """,
    tags=("ml", "report"),
)
def ml_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R45 per-class precision/recall/F1/support as pure aggregates
    (voice_classifier.py:328-332) — no sklearn, one pass over the
    prediction table + a tiny per-class reduce."""
    em = load_table(spark, sf_dir, "embeddings")
    p = em.select(
        F.col("label").alias("truth"), F.pmod("vec_id", F.lit(3)).alias("pred")
    )
    per_class = p.groupBy(F.col("truth").alias("class")).agg(
        F.sum(F.when(F.col("pred") == F.col("truth"), 1).otherwise(0)).alias("tp"),
        F.count(F.lit(1)).alias("support"),
    )
    pred_counts = p.groupBy(F.col("pred").alias("class")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    j = per_class.join(pred_counts, "class", "left").na.fill({"n_pred": 0})
    tp = F.col("tp").cast("double")
    fp = (F.col("n_pred") - F.col("tp")).cast("double")
    fn = (F.col("support") - F.col("tp")).cast("double")
    return j.select(
        "class",
        F.round(tp / F.nullif(tp + fp, F.lit(0.0)), 6).alias("precision"),
        F.round(tp / F.nullif(tp + fn, F.lit(0.0)), 6).alias("recall"),
        F.round(2 * tp / F.nullif(2 * tp + fp + fn, F.lit(0.0)), 6).alias("f1"),
        F.col("support"),
    ).orderBy("class")


def _mi_sql() -> str:
    dims = ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) AS x{i}" for i in range(MI_DIMS)
    )
    per_dim = "\n            UNION ALL\n            ".join(
        f"SELECT {i} AS dim, x{i} AS x, label FROM base" for i in range(MI_DIMS)
    )
    return f"""
        WITH base AS (SELECT {dims}, label FROM embeddings),
        long AS (
            {per_dim}
        ),
        edges AS (
            SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM long GROUP BY dim
        ),
        binned AS (
            SELECT l.dim, l.label,
                   LEAST(CAST(FLOOR((l.x - e.lo) / ((e.hi - e.lo) / {MI_BINS})) AS BIGINT),
                         {MI_BINS - 1}) AS bin
            FROM long l JOIN edges e ON l.dim = e.dim
        ),
        joint AS (SELECT dim, bin, label, COUNT(*) AS n_bl FROM binned GROUP BY 1, 2, 3),
        margx AS (SELECT dim, bin, SUM(n_bl) AS n_b FROM joint GROUP BY 1, 2),
        margy AS (SELECT dim, label, SUM(n_bl) AS n_l FROM joint GROUP BY 1, 2),
        tot  AS (SELECT dim, SUM(n_bl) AS n FROM joint GROUP BY 1)
        SELECT j.dim,
               ROUND(SUM((CAST(n_bl AS DOUBLE) / n)
                         * LN(CAST(n_bl AS DOUBLE) * n
                              / (CAST(n_b AS DOUBLE) * CAST(n_l AS DOUBLE)))), 6) AS mi
        FROM joint j
        JOIN margx USING (dim, bin)
        JOIN margy USING (dim, label)
        JOIN tot USING (dim)
        GROUP BY j.dim
        ORDER BY j.dim
    """


@query("ml_mutual_information", oracle=_mi_sql(), tags=("ml", "feature-selection"))
def ml_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R26 mutual-information feature scoring (voice_classifier.py:150-153)
    as a plug-in estimator over equal-width bins: MI(dim; label) =
    Σ p(b,l)·ln(p(b,l)/(p(b)p(l))). The sklearn k-NN estimator is not
    reproducible distributively; the binned plug-in is (documented
    divergence, SURVEY §7) — and is exactly SQL-checkable.
    Shape: unpivot dims → global min/max per dim (tiny agg, broadcast
    back) → bin → three groupBys. All shuffles carry bin counts only."""
    em = load_table(spark, sf_dir, "embeddings")
    base = em.select(
        "label",
        *[
            F.element_at(to_double(F.col("embedding")), i + 1).alias(f"x{i}")
            for i in range(MI_DIMS)
        ],
    )
    long = base.unpivot(
        ids=["label"],
        values=[f"x{i}" for i in range(MI_DIMS)],
        variableColumnName="dim_name",
        valueColumnName="x",
    ).select(
        F.substring("dim_name", 2, 10).cast("int").alias("dim"), "label", "x"
    )
    edges = long.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    binned = long.join(F.broadcast(edges), "dim").select(
        "dim",
        "label",
        F.least(
            F.floor((F.col("x") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / MI_BINS))
            .cast("bigint"),
            F.lit(MI_BINS - 1),
        ).alias("bin"),
    )
    joint = binned.groupBy("dim", "bin", "label").agg(F.count(F.lit(1)).alias("n_bl"))
    margx = joint.groupBy("dim", "bin").agg(F.sum("n_bl").alias("n_b"))
    margy = joint.groupBy("dim", "label").agg(F.sum("n_bl").alias("n_l"))
    tot = joint.groupBy("dim").agg(F.sum("n_bl").alias("n"))
    j = (
        joint.join(margx, ["dim", "bin"])
        .join(margy, ["dim", "label"])
        .join(tot, ["dim"])
    )
    p_bl = F.col("n_bl").cast("double") / F.col("n")
    term = p_bl * F.log(
        F.col("n_bl").cast("double") * F.col("n")
        / (F.col("n_b").cast("double") * F.col("n_l").cast("double"))
    )
    return (
        j.groupBy("dim").agg(F.round(F.sum(term), 6).alias("mi")).orderBy("dim")
    )


@query(
    "ml_best_feature_by_mi",
    oracle=f"""
        WITH mi AS ({_mi_sql()})
        SELECT dim AS best_dim FROM mi
        ORDER BY mi DESC, dim
        LIMIT 1
    """,
    tags=("ml", "feature-selection"),
)
def ml_best_feature_by_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R26's argmax selection (``index(max(...))``,
    voice_classifier.py:153): sort-limit-1 over the MI score table."""
    mi = ml_mutual_information(spark, sf_dir)
    return (
        mi.orderBy(F.col("mi").desc(), F.col("dim"))
        .limit(1)
        .select(F.col("dim").alias("best_dim"))
    )


@query(
    "ml_argmax_probability",
    oracle="""
        SELECT vec_id,
               CAST(list_position(probs, list_max(probs)) - 1 AS BIGINT) AS pred
        FROM (SELECT vec_id,
                     list_transform(embedding[1:3], x -> ABS(CAST(x AS DOUBLE))) AS probs
              FROM embeddings)
    """,
    tags=("ml", "inference"),
)
def ml_argmax_probability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R46 argmax over a probability-like vector
    (``np.argmax``, voice_classifier.py:343-347) as pure array ops:
    array_position(arr, array_max(arr)) - 1."""
    em = load_table(spark, sf_dir, "embeddings")
    probs = F.transform(
        F.slice(F.col("embedding"), 1, 3), lambda x: F.abs(x.cast("double"))
    )
    return em.select(
        "vec_id",
        (F.array_position(probs, F.array_max(probs)) - 1).cast("bigint").alias("pred"),
    )


@query("ml_pca_embeddings", oracle=None, tags=("ml", "pca", "mllib"))
def ml_pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R21: mean-centered PCA(k=4) over embeddings.
    StandardScaler(withMean=True, withStd=False) + PCA reproduces
    sklearn's centering semantics (MLlib PCA alone does not center —
    SURVEY §2.A R21 caveat). Rows-only: component signs are
    basis-indeterminate. Numeric parity vs a numpy SVD oracle is
    asserted sign-invariantly in tests/test_ml.py."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import PCA, StandardScaler
    from pyspark.ml.functions import array_to_vector, vector_to_array

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", array_to_vector(to_double(F.col("embedding"))).alias("raw")
    )
    pipe = Pipeline(
        stages=[
            StandardScaler(
                inputCol="raw", outputCol="centered", withMean=True, withStd=False
            ),
            PCA(k=4, inputCol="centered", outputCol="pc"),
        ]
    )
    out = pipe.fit(em).transform(em)
    pc = vector_to_array("pc")
    return out.select(
        "vec_id",
        "label",
        *[F.round(F.element_at(pc, i + 1), 6).alias(f"pc{i}") for i in range(4)],
    )


@query(
    "ml_train_test_split",
    oracle="""
        SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 < 80
                    THEN 'train' ELSE 'test' END AS split,
               label,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM embeddings
        GROUP BY split, label
    """,
    tags=("ml", "split"),
)
def ml_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R31: 80/20 split, hash-partitioned (md5(vec_id) % 100 < 80) —
    the reproducible production form of the reference's seeded
    ``train_test_split(random_state=42)``: membership is a pure
    function of the row key, so it is stable across engines, re-runs,
    and repartitions (exactly what a 100 TB pipeline needs — RNG-based
    splits drift whenever partitioning changes). The seeded
    ``randomSplit`` variant remains exercised statistically in
    tests/test_ml.py; here the portable hash makes the split itself
    SQL-oracle-checkable, not just its ratios."""
    em = load_table(spark, sf_dir, "embeddings")
    bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    return (
        em.select(
            F.when(bucket < 80, F.lit("train")).otherwise(F.lit("test")).alias("split"),
            "label",
        )
        .groupBy("split", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@query("ml_mlp_train_eval", oracle=None, tags=("ml", "train", "mllib"))
def ml_mlp_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R35/R36 stand-in: MultilayerPerceptronClassifier on the embedding
    features (Conv1D over a length-2 sequence ≡ MLP — SURVEY §2.A R35).
    Returns holdout accuracy + logloss (R37's evaluate). Rows-only:
    training is iterative/seeded, not SQL-expressible."""
    from pyspark.ml.classification import MultilayerPerceptronClassifier
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.functions import array_to_vector

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(to_double(F.col("embedding"))).alias("features"),
        F.col("label").cast("double").alias("label"),
    )
    dim = len(em.first()["features"])
    n_classes = em.select("label").distinct().count()
    train, test = em.randomSplit([0.8, 0.2], seed=42)
    mlp = MultilayerPerceptronClassifier(
        layers=[dim, 32, n_classes], maxIter=60, seed=42, blockSize=64
    )
    model = mlp.fit(train)
    preds = model.transform(test)
    acc = MulticlassClassificationEvaluator(metricName="accuracy").evaluate(preds)
    ll = MulticlassClassificationEvaluator(metricName="logLoss").evaluate(preds)
    return spark.createDataFrame(
        [(round(acc, 4), round(ll, 4), train.count(), test.count())],
        "accuracy double, logloss double, n_train long, n_test long",
    )


KM_K = 8       # clusters; vec_id < KM_K are the (data-derived) seeds
KM_ROUNDS = 3  # Lloyd update rounds before the final assignment
KM_DIM = 64    # embedding dimensionality


def _km_sql_dist(emb: str, cent: str) -> str:
    """DuckDB squared-L2 as a sequential list fold — the same
    index-order summation Spark's ``F.aggregate(zip_with(...))``
    performs, so the doubles agree bitwise given identical inputs."""
    return (
        f"list_sum(list_transform(list_zip({emb}, {cent}), "
        f"p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"
    )


def _km_oracle() -> str:
    """Unrolled deterministic-Lloyd oracle (see memory: iterative CTE
    chains must be MATERIALIZED or DuckDB re-inlines them 3^rounds)."""
    avgs = ", ".join(
        f"ROUND(AVG(CAST(embedding[{i}] AS DOUBLE)), 6)" for i in range(1, KM_DIM + 1)
    )
    parts = [
        f"""cents0 AS MATERIALIZED (
            SELECT vec_id AS cell_id,
                   list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 6)) AS c
            FROM embeddings WHERE vec_id < {KM_K})"""
    ]
    for r in range(1, KM_ROUNDS + 1):
        parts.append(f"""assign{r} AS MATERIALIZED (
            SELECT vec_id, embedding, label, cell_id FROM (
                SELECT e.vec_id, e.embedding, e.label, c.cell_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY {_km_sql_dist("e.embedding", "c.c")}, c.cell_id) AS rn
                FROM embeddings e CROSS JOIN cents{r - 1} c)
            WHERE rn = 1)""")
        parts.append(f"""cents{r} AS MATERIALIZED (
            SELECT cell_id, [{avgs}] AS c FROM assign{r} GROUP BY cell_id)""")
    parts.append(f"""final AS (
            SELECT vec_id, label, cell_id, d2 FROM (
                SELECT e.vec_id, e.label, c.cell_id,
                       {_km_sql_dist("e.embedding", "c.c")} AS d2,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                           ORDER BY {_km_sql_dist("e.embedding", "c.c")}, c.cell_id) AS rn
                FROM embeddings e CROSS JOIN cents{KM_ROUNDS} c)
            WHERE rn = 1)""")
    return (
        "WITH " + ",\n".join(parts) + """
        SELECT cell_id AS prediction,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(SQRT(d2)), 6) AS avg_dist,
               CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
        FROM final GROUP BY cell_id"""
    )


@query(
    "ml_kmeans_embeddings",
    oracle=_km_oracle(),
    tags=("ml", "clustering", "iterative"),
)
def ml_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (k=8, 3 rounds, data-derived seeds =
    the first k vectors, per-round centroids rounded to 6 decimals) —
    the clustering primitive of large-scale training-data curation
    (semantic grouping / cluster-level dedup / diversity sampling),
    written so the WHOLE iteration is cross-engine reproducible and
    therefore SQL-oracle-checkable (converted from the rows-only MLlib
    form in round 5; ``pyspark.ml.clustering.KMeans`` stays exercised
    in tests/test_ml.py).

    Scale shape (identical to MLlib's): each Lloyd round is one
    map-side assignment against k BROADCAST centroids + one keyed
    partial-aggregate to recompute them — the shuffle carries k×64
    doubles, never the vectors. Per-round centroid rounding pins the
    trajectory: after each round both engines hold bitwise-identical
    centroids, so the sequential-fold distances match bitwise too.
    Output: per-cluster size, mean distance-to-centroid, label spread.
    """
    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    cents = em.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("cell_id"),
        F.transform("embedding", lambda x: F.round(x.cast("double"), 6)).alias("c"),
    )
    d2 = F.aggregate(
        F.zip_with(
            "embedding", "c", lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell_id")

    def assign(cents_df: DataFrame) -> DataFrame:
        return (
            em.crossJoin(F.broadcast(cents_df))
            .select("vec_id", "label", "embedding", "cell_id", d2.alias("d2"))
            .select("*", F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") == 1)
        )

    for _ in range(KM_ROUNDS):
        members = assign(cents)
        cents = members.groupBy("cell_id").agg(
            F.array(
                *[
                    F.round(F.avg(F.element_at("embedding", i).cast("double")), 6)
                    for i in range(1, KM_DIM + 1)
                ]
            ).alias("c")
        ).localCheckpoint(eager=True)  # k rows; cuts the per-round lineage
    return (
        assign(cents)
        .groupBy(F.col("cell_id").alias("prediction"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg(F.sqrt("d2")), 6).alias("avg_dist"),
            F.countDistinct("label").cast("bigint").alias("n_labels"),
        )
    )


@query(
    "ml_train_validation_split",
    oracle="""
        SELECT 3 AS n_grid,
               CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_rows,
               TRUE AS best_is_argmax,
               TRUE AS auc_floor_ok
    """,
    tags=("ml", "tuning", "embeddings", "quality"),
)
def ml_train_validation_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection via ``TrainValidationSplit(trainRatio=0.8)`` —
    the MLlib analog of the reference's val_split=0.2 + checkpoint-best
    training loop (`src/voice_classifier.py:229-246`): each param-grid
    candidate trains on 80% and is scored on the held-out 20%, and the
    best model is refit on all data. Grid: LR regularization strengths.

    QUALITY-GATE contract (r06 rows-only conversion): the grid size
    and row count are oracle-exact; the split/refit randomness stays
    engine-internal, so the gate pins the booleans — the reported best
    IS the argmax of the validation metrics, and the best candidate's
    held-out AUC clears TVS_AUC_FLOOR = 0.9 (the target is the sign of
    the first embedding component, near-perfectly learnable — AUC ~1
    at every SF).

    Scale notes: candidates train sequentially (or with ``parallelism``
    workers) over the SAME cached training frame; each fit is MLlib's
    distributed l-bfgs. Nothing here is driver-bound except the
    grid-sized metrics table."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit
    from pyspark.ml.functions import array_to_vector

    em = load_table(spark, sf_dir, "embeddings")
    # learnable target: sign of the first embedding component — the
    # grid search has real signal to rank candidates on (AUC ~1).
    df = em.select(
        array_to_vector(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("features"),
        (F.element_at("embedding", 1) > 0).cast("double").alias("y"),
    )
    lr = LogisticRegression(featuresCol="features", labelCol="y", maxIter=20)
    grid = (
        ParamGridBuilder().addGrid(lr.regParam, [0.001, 0.01, 0.1]).build()
    )
    ev = BinaryClassificationEvaluator(labelCol="y", metricName="areaUnderROC")
    tvs = TrainValidationSplit(
        estimator=lr,
        estimatorParamMaps=grid,
        evaluator=ev,
        trainRatio=0.8,
        seed=42,
        parallelism=2,
    )
    model = tvs.fit(df)
    rows = [
        (float(pm[lr.regParam]), float(metric), bool(i == int(
            max(range(len(model.validationMetrics)),
                key=model.validationMetrics.__getitem__)
        )))
        for i, (pm, metric) in enumerate(
            zip(grid, model.validationMetrics)
        )
    ]
    best_i = max(
        range(len(model.validationMetrics)),
        key=model.validationMetrics.__getitem__,
    )
    return spark.createDataFrame(
        [
            (
                len(rows),
                bool(rows[best_i][2]),
                bool(model.validationMetrics[best_i] >= TVS_AUC_FLOOR),
            )
        ],
        "n_grid int, best_is_argmax boolean, auc_floor_ok boolean",
    ).crossJoin(
        F.broadcast(
            df.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        )
    ).select("n_grid", "n_rows", "best_is_argmax", "auc_floor_ok")


TVS_AUC_FLOOR = 0.9  # best-candidate validation AUC floor (target is the
# sign of the first embedding component -> near-perfectly learnable)

KFOLDS = 5  # deterministic fold count for the single-pass CV


@query(
    "ml_kfold_regression_cv",
    oracle=f"""
        WITH s AS (
            SELECT CAST(l_orderkey % {KFOLDS} AS BIGINT) AS fold,
                   CAST(COUNT(*) AS DOUBLE)              AS n,
                   SUM(l_quantity)                        AS sx,
                   SUM(l_extendedprice)                   AS sy,
                   SUM(l_quantity * l_quantity)           AS sxx,
                   SUM(l_quantity * l_extendedprice)      AS sxy,
                   SUM(l_extendedprice * l_extendedprice) AS syy
            FROM lineitem
            GROUP BY 1
        ),
        t AS (
            SELECT fold, n, sx, sy, sxx, sxy, syy,
                   SUM(n)   OVER () - n   AS tn,
                   SUM(sx)  OVER () - sx  AS tsx,
                   SUM(sy)  OVER () - sy  AS tsy,
                   SUM(sxx) OVER () - sxx AS tsxx,
                   SUM(sxy) OVER () - sxy AS tsxy
            FROM s
        ),
        m AS (
            SELECT fold, n, tn, syy, sy, sxy, sx, sxx,
                   (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx) AS b1,
                   (tsy - (tn * tsxy - tsx * tsy)
                          / (tn * tsxx - tsx * tsx) * tsx) / tn      AS b0
            FROM t
        )
        SELECT fold,
               CAST(tn AS BIGINT) AS n_train,
               CAST(n  AS BIGINT) AS n_test,
               ROUND(b1, 6)       AS slope,
               ROUND(b0, 6)       AS intercept,
               ROUND(SQRT((syy - 2*b0*sy - 2*b1*sxy + 2*b0*b1*sx
                           + b0*b0*n + b1*b1*sxx) / n), 6) AS test_rmse
        FROM m
    """,
    tags=("ml", "cv", "regression", "lineitem"),
)
def ml_kfold_regression_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation of the price~quantity OLS fit from ONE
    scan: per-fold sufficient statistics (n, Σx, Σy, Σx², Σxy, Σy²)
    are aggregated once; each fold's TRAIN-side statistics are the
    complement (global minus fold) — so the k model fits and their
    held-out RMSEs all come out of a single map-side-combined
    aggregation instead of k re-scans of the data.

    At 100 TB this is the only viable CV shape: the data pass is
    O(N) once, and everything after it runs on a k-row table (the
    window computing global totals spans exactly KFOLDS rows). Fold
    assignment is `l_orderkey % k` — deterministic, reproducible,
    grouped at the ORDER grain so lineitems of one order never
    straddle train/test (leakage hygiene)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy(
        (F.col("l_orderkey") % KFOLDS).cast("bigint").alias("fold")
    ).agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t = s.select(
        "fold", "n", "sx", "sy", "sxx", "sxy", "syy",
        (F.sum("n").over(w) - F.col("n")).alias("tn"),
        (F.sum("sx").over(w) - F.col("sx")).alias("tsx"),
        (F.sum("sy").over(w) - F.col("sy")).alias("tsy"),
        (F.sum("sxx").over(w) - F.col("sxx")).alias("tsxx"),
        (F.sum("sxy").over(w) - F.col("sxy")).alias("tsxy"),
    )
    b1 = (F.col("tn") * F.col("tsxy") - F.col("tsx") * F.col("tsy")) / (
        F.col("tn") * F.col("tsxx") - F.col("tsx") * F.col("tsx")
    )
    m = t.select(
        "fold", "n", "tn", "syy", "sy", "sxy", "sx", "sxx",
        b1.alias("b1"),
        ((F.col("tsy") - b1 * F.col("tsx")) / F.col("tn")).alias("b0"),
    )
    mse = (
        F.col("syy")
        - 2 * F.col("b0") * F.col("sy")
        - 2 * F.col("b1") * F.col("sxy")
        + 2 * F.col("b0") * F.col("b1") * F.col("sx")
        + F.col("b0") * F.col("b0") * F.col("n")
        + F.col("b1") * F.col("b1") * F.col("sxx")
    ) / F.col("n")
    return m.select(
        "fold",
        F.col("tn").cast("bigint").alias("n_train"),
        F.col("n").cast("bigint").alias("n_test"),
        F.round("b1", 6).alias("slope"),
        F.round("b0", 6).alias("intercept"),
        F.round(F.sqrt(mse), 6).alias("test_rmse"),
    )


CALIB_BINS = 10        # reliability-diagram bin count
CALIB_SCALE = 2500.0   # logistic score scale over c_acctbal


@query(
    "ml_calibration_bins",
    oracle=f"""
        WITH scored AS (
            SELECT c.c_custkey,
                   1.0 / (1.0 + EXP(-c.c_acctbal / {CALIB_SCALE})) AS score,
                   CASE WHEN COUNT(CASE WHEN o.o_orderpriority = '1-URGENT'
                                        THEN 1 END) > 0
                        THEN 1.0 ELSE 0.0 END AS label
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_acctbal
        ),
        b AS (
            SELECT LEAST({CALIB_BINS - 1},
                         CAST(FLOOR(score * {CALIB_BINS}) AS BIGINT)) AS bin,
                   score, label
            FROM scored
        ),
        g AS (
            SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   AVG(score) AS mean_score,
                   AVG(label) AS pos_rate
            FROM b GROUP BY bin
        )
        SELECT bin, n,
               ROUND(mean_score, 6) AS mean_score,
               ROUND(pos_rate, 6)   AS pos_rate,
               ROUND(ABS(pos_rate - mean_score), 6) AS calib_gap,
               ROUND(CAST(n AS DOUBLE) / SUM(n) OVER ()
                     * ABS(pos_rate - mean_score), 6) AS ece_term
        FROM g
    """,
    tags=("ml", "calibration", "report", "customer"),
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram / expected-calibration-error bins — the
    post-training model audit next to the confusion matrix (R44): bin
    predicted probability into CALIB_BINS equal-width bins, compare
    mean predicted score against the observed positive rate per bin,
    and emit each bin's ECE contribution (sum(ece_term) = ECE).

    The "model" is a deterministic logistic score over account balance
    and the label is has-an-URGENT-order, so the whole audit is
    cross-engine reproducible — the plan shape is exactly what a real
    scored table feeds: one keyed left join rolled up at the entity
    grain (conditional count, no distinct), one groupBy over
    CALIB_BINS keys (map-side combined), and a final window over the
    CALIB_BINS-row aggregate, never the data."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    scored = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.when(
                F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)) > 0,
                1.0,
            )
            .otherwise(0.0)
            .alias("label")
        )
        .select(
            (1.0 / (1.0 + F.exp(-F.col("c_acctbal") / CALIB_SCALE))).alias(
                "score"
            ),
            "label",
        )
    )
    g = (
        scored.groupBy(
            F.least(
                F.lit(CALIB_BINS - 1), F.floor(F.col("score") * CALIB_BINS)
            )
            .cast("bigint")
            .alias("bin")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.avg("score").alias("ms"),
            F.avg("label").alias("pr"),
        )
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return g.select(
        "bin",
        "n",
        F.round("ms", 6).alias("mean_score"),
        F.round("pr", 6).alias("pos_rate"),
        F.round(F.abs(F.col("pr") - F.col("ms")), 6).alias("calib_gap"),
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(w)
            * F.abs(F.col("pr") - F.col("ms")),
            6,
        ).alias("ece_term"),
    )


@query(
    "ml_roc_auc",
    oracle=f"""
        WITH scored AS (
            SELECT 1.0 / (1.0 + EXP(-c.c_acctbal / {CALIB_SCALE})) AS score,
                   CASE WHEN COUNT(CASE WHEN o.o_orderpriority = '1-URGENT'
                                        THEN 1 END) > 0
                        THEN 1.0 ELSE 0.0 END AS label
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_acctbal
        ),
        d AS (
            SELECT score, SUM(label) AS d1, COUNT(*) AS t
            FROM scored GROUP BY score
        ),
        c AS (
            SELECT d1, t,
                   SUM(t) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) - t
                       AS cum_before
            FROM d
        ),
        agg AS (
            SELECT SUM(d1 * (cum_before + (t + 1) / 2.0)) AS r1,
                   CAST(SUM(d1) AS DOUBLE)                AS n1,
                   CAST(SUM(t - d1) AS DOUBLE)            AS n0
            FROM c
        )
        SELECT CAST(n1 AS BIGINT) AS n_pos,
               CAST(n0 AS BIGINT) AS n_neg,
               ROUND((r1 - n1 * (n1 + 1) / 2.0) / (n1 * n0), 6) AS auc,
               ROUND(2 * (r1 - n1 * (n1 + 1) / 2.0) / (n1 * n0) - 1, 6)
                   AS gini_coefficient
        FROM agg
    """,
    tags=("ml", "evaluation", "auc", "ranks", "customer"),
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC via the rank-sum identity AUC = (R1 - n1(n1+1)/2) /
    (n1*n0) with tie midranks (identical to the probability a random
    positive outranks a random negative) — the eval metric completing
    confusion matrix / PRF / calibration, over the same deterministic
    score/label table as ``ml_calibration_bins``.

    Ranks are NOT a global sort: the ``stats_mann_whitney_u`` idiom
    applies verbatim — ``functions.ranks.prefix_sums`` collapses ties
    in groupBy(score), runs per-bucket prefix sums in a PARTITIONED
    window, and takes bucket offsets from a broadcast triangular join
    over the bucket ledger."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    scored = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.when(
                F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)) > 0,
                1.0,
            )
            .otherwise(0.0)
            .alias("label")
        )
        .select(
            (1.0 / (1.0 + F.exp(-F.col("c_acctbal") / CALIB_SCALE))).alias(
                "score"
            ),
            "label",
        )
    )
    weights = {"d1": F.col("label"), "t": F.lit(1)}
    agg = prefix_sums(scored, "score", weights, by=(), ties=()).agg(
        F.sum(
            F.col("d1") * (F.col("t_before") + (F.col("t") + 1) / 2.0)
        ).alias("r1"),
        F.sum("d1").cast("double").alias("n1"),
        F.sum(F.col("t") - F.col("d1")).cast("double").alias("n0"),
    )
    auc = (F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0) / (
        F.col("n1") * F.col("n0")
    )
    return agg.select(
        F.col("n1").cast("bigint").alias("n_pos"),
        F.col("n0").cast("bigint").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(2 * auc - 1, 6).alias("gini_coefficient"),
    )


ALS_ITEMS = 100  # synthetic catalog size (order keys folded onto it)
ALS_TOPK = 3


@query(
    "ml_als_recommend",
    oracle="""
        SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_users,
               3 AS k,
               TRUE AS every_user_has_k,
               TRUE AS beats_mean_baseline
        FROM orders
    """,
    tags=("ml", "recommendation", "mllib", "quality"),
)
def ml_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collaborative filtering via MLlib ALS (distributed alternating
    least squares): a deterministic implicit-ish rating matrix derived
    from orders (user = customer, item = o_orderkey % 100, rating =
    1..5 from the cent value — pure integer arithmetic, reproducible),
    rank-8 factorization, top-3 recommendations per user flattened to
    (user, rec_item, rec_rating) rows.

    QUALITY-GATE contract (r06 rows-only conversion): factor
    initialization is seeded but engine-internal, so recommendation
    VALUES are not cross-engine reproducible; the gate pins what is —
    the oracle-exact user count, that every user gets exactly k
    recommendations, and that the fit beats the global-mean baseline
    RMSE on its own training data. Scale: ALS is the canonical
    distributed MF (block-to-block joins of user/item factor
    partitions — no driver-side matrix)."""
    from pyspark.ml.recommendation import ALS

    o = load_table(spark, sf_dir, "orders")
    ratings = o.select(
        F.col("o_custkey").cast("int").alias("user"),
        (F.col("o_orderkey") % ALS_ITEMS).cast("int").alias("item"),
        (
            1.0
            + (F.round(F.col("o_totalprice") * 100).cast("bigint") % 400)
            / 100.0
        ).alias("rating"),
    )
    als = ALS(
        rank=8,
        maxIter=8,
        regParam=0.1,
        seed=42,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    recs = model.recommendForAllUsers(ALS_TOPK)
    per_user = recs.select(
        "user", F.size("recommendations").alias("n_recs")
    )
    shape = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        (F.min("n_recs") == ALS_TOPK).alias("min_ok"),
        (F.max("n_recs") == ALS_TOPK).alias("max_ok"),
    )
    pred = model.transform(ratings)
    mu = ratings.agg(F.avg("rating").alias("mu"))
    errs = pred.join(F.broadcast(mu)).agg(
        F.sqrt(F.avg(F.pow(F.col("rating") - F.col("prediction"), 2))).alias(
            "rmse_model"
        ),
        F.sqrt(F.avg(F.pow(F.col("rating") - F.col("mu"), 2))).alias(
            "rmse_base"
        ),
    )
    return shape.crossJoin(F.broadcast(errs)).select(
        "n_users",
        F.lit(ALS_TOPK).alias("k"),
        (F.col("min_ok") & F.col("max_ok")).alias("every_user_has_k"),
        (F.col("rmse_model") < F.col("rmse_base")).alias(
            "beats_mean_baseline"
        ),
    )


GMM_K = 4


GMM_MIN_WEIGHT = 0.05  # measured min mixing weight 0.15-0.19 tri-SF (seed 42)


@query(
    "ml_gmm_clusters",
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
               {GMM_K}                  AS k,
               TRUE                     AS weights_sum_ok,
               TRUE                     AS all_clusters_used,
               TRUE                     AS min_weight_ok,
               TRUE                     AS responsibilities_proper
        FROM embeddings
    """,
    tags=("ml", "clustering", "mllib", "quality"),
)
def ml_gmm_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib GaussianMixture (distributed EM, k=4 full-covariance on
    the first 4 dims) as an INVARIANT GATE (r06 rows-only conversion):
    oracle-exact point count plus the model-contract booleans — mixing
    weights sum to 1 (|Σw−1| < 1e-9), every component claims ≥1 point,
    no component degenerates below weight 0.05 (measured 0.15-0.19
    across SFs), and every point's responsibility row is a proper
    distribution (max |Σγ−1| < 1e-6). Component means/weights stay
    engine-internal (seeded EM) — the pytest pins the LL-improvement
    invariant; a cluster↔label purity floor was MEASURED and REJECTED
    (purity 0.125-0.144 ≈ the 1/8 chance level: the synthetic labels
    are independent of the embedding geometry).

    Scale: EM's E-step is map-only (broadcast params), the M-step one
    aggregation per iteration — MLlib's distributed shape."""
    from pyspark.ml.clustering import GaussianMixture
    from pyspark.ml.functions import array_to_vector, vector_to_array

    e = load_table(spark, sf_dir, "embeddings")
    feats = e.select(
        "vec_id",
        array_to_vector(
            F.slice(F.col("embedding").cast("array<double>"), 1, 4)
        ).alias("features"),
    )
    gmm = GaussianMixture(k=GMM_K, maxIter=30, seed=42, featuresCol="features")
    model = gmm.fit(feats)
    pred = model.transform(feats)
    weights = [float(w) for w in model.weights]
    weights_sum_ok = abs(sum(weights) - 1.0) < 1e-9
    min_weight_ok = min(weights) >= GMM_MIN_WEIGHT
    resp_sum = F.aggregate(
        vector_to_array("probability"), F.lit(0.0), lambda a, x: a + x
    )
    return pred.select(
        F.col("prediction").cast("int").alias("cluster"),
        resp_sum.alias("resp_sum"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.lit(GMM_K).alias("k"),
        F.lit(weights_sum_ok).alias("weights_sum_ok"),
        (F.count_distinct("cluster") == GMM_K).alias("all_clusters_used"),
        F.lit(min_weight_ok).alias("min_weight_ok"),
        (F.max(F.abs(F.col("resp_sum") - 1.0)) < 1e-6).alias(
            "responsibilities_proper"
        ),
    )


@query(
    "ml_stratified_split",
    oracle="""
        WITH ranked AS (
            SELECT label, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY label
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r,
                   COUNT(*) OVER (PARTITION BY label) AS n
            FROM embeddings
        ),
        assigned AS (
            SELECT label, vec_id, n,
                   CASE WHEN r <= CAST(FLOOR(0.8 * n) AS BIGINT)
                        THEN 'train' ELSE 'test' END AS split
            FROM ranked
        )
        SELECT label, split,
               COUNT(*)                          AS n_rows,
               MIN(n)                            AS stratum_n,
               CAST(SUM(vec_id) AS BIGINT)       AS sum_vec_id,
               MIN(vec_id)                       AS min_vec_id,
               MAX(vec_id)                       AS max_vec_id
        FROM assigned
        GROUP BY label, split
        ORDER BY label, split
    """,
    tags=("ml", "split", "sampling", "embeddings"),
)
def ml_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified train/test split with EXACT per-stratum quotas
    (R31 upgraded from the statistical-contract randomSplit): rows are
    ordered within each label stratum by a deterministic keyed hash
    (md5 of the id) and the first floor(0.8*n) take 'train'. Unlike
    randomSplit, membership is reproducible across engines, so the
    oracle certifies WHICH rows landed in each split (sum/min/max of
    ids per cell), not just the counts.

    100 TB design: the only shuffle is the per-stratum window
    (hash-partitioned by label). For few/huge strata the same exact
    semantics come from the repo's two-phase order-statistic idiom
    (rank the md5 keys against per-stratum cut quantiles computed in a
    first aggregate pass); the map-only approximate form (split on the
    hash value itself) needs no shuffle at all. This exemplar keeps the
    windowed exact form, which is the one the oracle can certify.
    """
    from pyspark.sql import Window

    em = load_table(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    wn = Window.partitionBy("label")
    assigned = em.select(
        "label",
        "vec_id",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).select(
        "label",
        "vec_id",
        "n",
        F.when(
            F.col("r") <= F.floor(0.8 * F.col("n")).cast("bigint"), "train"
        )
        .otherwise("test")
        .alias("split"),
    )
    return (
        assigned.groupBy("label", "split")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("n").alias("stratum_n"),
            F.sum("vec_id").cast("bigint").alias("sum_vec_id"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
        .orderBy("label", "split")
    )


_TE_FOLDS = 5
_TE_SMOOTH = 10  # pseudo-observations of the global mean


@query(
    "ml_target_encoding_oof",
    oracle=f"""
        WITH base AS (
            SELECT o_orderpriority AS category,
                   o_orderkey % {_TE_FOLDS} AS fold,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        cf AS (
            SELECT category, fold,
                   CAST(SUM(cents) AS BIGINT) AS s_cf,
                   COUNT(*) AS n_cf
            FROM base GROUP BY category, fold
        ),
        lev AS (
            SELECT category, fold, s_cf, n_cf,
                   CAST(SUM(s_cf) OVER (PARTITION BY category) AS BIGINT) AS s_c,
                   CAST(SUM(n_cf) OVER (PARTITION BY category) AS BIGINT) AS n_c,
                   CAST(SUM(s_cf) OVER () AS BIGINT) AS s_g,
                   CAST(SUM(n_cf) OVER () AS BIGINT) AS n_g
            FROM cf
        )
        SELECT category, fold, n_cf AS n_rows,
               n_c - n_cf AS oof_n,
               ROUND(
                   ((s_c - s_cf) + {_TE_SMOOTH} * (s_g * 1.0 / n_g))
                   / ((n_c - n_cf + {_TE_SMOOTH}) * 100.0), 6)
                   AS encoded
        FROM lev
        ORDER BY category, fold
    """,
    tags=("ml", "encoding", "cv", "orders"),
)
def ml_target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free (out-of-fold) target encoding with additive
    smoothing: each (category, fold) cell is encoded by the target mean
    of the OTHER folds' rows in that category, shrunk toward the global
    mean by m pseudo-observations — the standard high-cardinality
    categorical encoder for tabular training pipelines (no reference
    analog; mandated ML-pipeline surface).

    Determinism: target sums are exact integer cents (the repo's
    cross-engine float idiom), folds are id-modulo, and the only float
    math is the final division — identical in both engines.

    100 TB design: ONE pass over the fact table (a map-side-combinable
    (category, fold) hash aggregate); the category and global levels
    are window sums over the resulting |categories| x k frame — a few
    dozen rows, so the unpartitioned window is over an aggregate, never
    fact data. Applying the encoding to the fact table is a broadcast
    join of this tiny frame.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("category"),
        (F.col("o_orderkey") % _TE_FOLDS).alias("fold"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    cf = o.groupBy("category", "fold").agg(
        F.sum("cents").cast("bigint").alias("s_cf"),
        F.count(F.lit(1)).alias("n_cf"),
    )
    w_c = Window.partitionBy("category")
    w_g = Window.partitionBy()
    lev = cf.select(
        "category",
        "fold",
        "s_cf",
        "n_cf",
        F.sum("s_cf").over(w_c).cast("bigint").alias("s_c"),
        F.sum("n_cf").over(w_c).cast("bigint").alias("n_c"),
        F.sum("s_cf").over(w_g).cast("bigint").alias("s_g"),
        F.sum("n_cf").over(w_g).cast("bigint").alias("n_g"),
    )
    return lev.select(
        "category",
        "fold",
        F.col("n_cf").alias("n_rows"),
        (F.col("n_c") - F.col("n_cf")).alias("oof_n"),
        F.round(
            (
                (F.col("s_c") - F.col("s_cf"))
                + _TE_SMOOTH * (F.col("s_g") * 1.0 / F.col("n_g"))
            )
            / ((F.col("n_c") - F.col("n_cf") + _TE_SMOOTH) * 100.0),
            6,
        ).alias("encoded"),
    ).orderBy("category", "fold")


_FH_DIM = 16  # hashed feature space size


@query(
    "ml_feature_hashing",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                                              t -> t <> '')) AS tok
            FROM documents
        ),
        h AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hv
            FROM toks
        )
        SELECT doc_id,
               CAST(hv % {_FH_DIM} AS INT) AS bucket,
               CAST(SUM(CASE WHEN (hv // {_FH_DIM}) % 2 = 0
                             THEN 1 ELSE -1 END) AS BIGINT) AS fval
        FROM h
        GROUP BY doc_id, hv % {_FH_DIM}
    """,
    tags=("ml", "encoding", "text", "documents"),
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature encoder (signed feature hashing a la
    Weinberger et al. / sklearn FeatureHasher): token -> portable
    32-bit md5 hash -> bucket = hv mod d, sign = parity of the next
    hash bit; per-document signed counts in long (doc, bucket, value)
    form — the sparse-native layout (densify only at the model
    boundary). Complements ml_label_encode / ml_target_encoding_oof as
    the unbounded-vocabulary encoder: no fitted dictionary, so new
    tokens at inference time need no re-fit.

    100 TB design: map-only explode + one (doc, bucket) hash aggregate
    (map-side combinable); no vocabulary state, no shuffle of text —
    only (doc_id, hv) pairs move. d is a constant, so the output is at
    most d rows per document regardless of corpus vocabulary.
    """
    from big_data_audio_classification_spark.operators.dedup import (
        token_hash,
        tokens_col,
    )

    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).select("doc_id", token_hash(F.col("tok")).alias("hv"))
    return h.groupBy(
        "doc_id", (F.col("hv") % _FH_DIM).cast("int").alias("bucket")
    ).agg(
        F.sum(
            F.when((F.col("hv") / _FH_DIM).cast("bigint") % 2 == 0, 1).otherwise(
                -1
            )
        )
        .cast("bigint")
        .alias("fval")
    )


_LIFT_DECILES = 10


@query(
    "ml_lift_gains_table",
    oracle=f"""
        WITH scored AS (
            SELECT vec_id,
                   CAST(embedding[1] AS DOUBLE) AS score,
                   CASE WHEN label <= 1 THEN 1 ELSE 0 END AS y
            FROM embeddings
        ),
        ranked AS (
            SELECT y,
                   NTILE({_LIFT_DECILES}) OVER (ORDER BY score DESC, vec_id)
                       AS decile
            FROM scored
        ),
        per AS (
            SELECT decile, COUNT(*) AS n,
                   CAST(SUM(y) AS BIGINT) AS pos
            FROM ranked GROUP BY decile
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS big_n,
                   CAST(SUM(pos) AS BIGINT) AS big_p
            FROM per
        )
        SELECT decile, n, pos,
               ROUND(pos * 1.0 / n, 4)                           AS resp_rate,
               ROUND((pos * 1.0 / n) / (big_p * 1.0 / big_n), 4) AS lift,
               ROUND(SUM(pos) OVER (ORDER BY decile) * 1.0 / big_p, 4)
                   AS cum_capture
        FROM per CROSS JOIN tot
        ORDER BY decile
    """,
    tags=("ml", "evaluation", "embeddings", "report"),
)
def ml_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / gains table — the classic model-targeting report:
    rank units by score (a fixed embedding dimension as the
    deterministic stand-in scorer), split into 10 deciles, and report
    per-decile response rate, lift over base rate, and cumulative
    capture. Decile boundaries use a unique (score, id) ordering so
    ties are deterministic in both engines.

    100 TB design: the ranked frame is the model's scored OUTPUT
    (usually orders of magnitude smaller than raw facts); for a
    fact-sized scoring frame the NTILE swaps to the repo's two-phase
    order-statistic idiom (count below per broadcast cut). The report
    itself is one aggregate + a 10-row window.
    """
    from pyspark.sql import Window

    em = load_table(spark, sf_dir, "embeddings")
    scored = em.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("score"),
        F.when(F.col("label") <= 1, 1).otherwise(0).alias("y"),
    )
    wd = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    ranked = scored.select("y", F.ntile(_LIFT_DECILES).over(wd).alias("decile"))
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("bigint").alias("pos")
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.sum("pos").cast("bigint").alias("big_p"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "pos",
            F.round(F.col("pos") * 1.0 / F.col("n"), 4).alias("resp_rate"),
            F.round(
                (F.col("pos") * 1.0 / F.col("n"))
                / (F.col("big_p") * 1.0 / F.col("big_n")),
                4,
            ).alias("lift"),
            F.round(
                F.sum("pos").over(wc) * 1.0 / F.col("big_p"), 4
            ).alias("cum_capture"),
        )
        .orderBy("decile")
    )


PR_AUC_BINS = 1024  # quantized threshold grid: bounded windows


@query(
    "ml_pr_auc",
    oracle=f"""
        WITH scored AS (
            SELECT 1.0 / (1.0 + EXP(-c.c_acctbal / {CALIB_SCALE})) AS score,
                   CASE WHEN COUNT(CASE WHEN o.o_orderpriority = '1-URGENT'
                                        THEN 1 END) > 0
                        THEN 1.0 ELSE 0.0 END AS label
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_acctbal
        ),
        d AS (
            SELECT CAST(FLOOR(score * {PR_AUC_BINS}) AS INT) AS tb,
                   SUM(label) AS d1, COUNT(*) AS t
            FROM scored GROUP BY 1
        ),
        c AS (
            SELECT tb, d1, t,
                   SUM(d1) OVER w AS cum_tp,
                   SUM(t)  OVER w AS cum_n
            FROM d
            WINDOW w AS (ORDER BY tb DESC ROWS UNBOUNDED PRECEDING)
        ),
        tot AS (
            SELECT CAST(SUM(d1) AS DOUBLE) AS n1,
                   CAST(SUM(t - d1) AS DOUBLE) AS n0
            FROM d
        )
        SELECT CAST(n1 AS BIGINT) AS n_pos,
               CAST(n0 AS BIGINT) AS n_neg,
               ROUND(n1 / (n1 + n0), 6) AS prevalence,
               ROUND(SUM((d1 / t1.n1) * (cum_tp * 1.0 / cum_n)), 6)
                   AS average_precision
        FROM c, tot t1
        GROUP BY t1.n1, t1.n0
    """,
    tags=("ml", "evaluation", "auc", "precision-recall", "customer"),
)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall AUC (average precision, the step-wise
    AP = Σ ΔRecall_k · Precision_k) over the same deterministic
    score/label table as ml_roc_auc — the metric that matters under
    class imbalance, where ROC AUC flatters (its baseline is 0.5
    regardless of prevalence; AP's baseline IS the prevalence, also
    reported).

    Thresholds are quantized to a 1024-bin grid, which (a) states the
    binned PR curve both engines evaluate identically and (b) BOUNDS
    the cumulative window at ≤1024 rows regardless of data volume —
    the score histogram is one map-side-combined aggregate, so AP at
    100 TB costs one scan + a fixed-size window, the same contract as
    ml_calibration_bins."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    scored = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.when(
                F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)) > 0,
                1.0,
            )
            .otherwise(0.0)
            .alias("label")
        )
        .select(
            (1.0 / (1.0 + F.exp(-F.col("c_acctbal") / CALIB_SCALE))).alias(
                "score"
            ),
            "label",
        )
    )
    d = scored.groupBy(
        F.floor(F.col("score") * PR_AUC_BINS).cast("int").alias("tb")
    ).agg(F.sum("label").alias("d1"), F.count("*").alias("t"))
    w = Window.orderBy(F.col("tb").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cums = d.select(
        "d1",
        "t",
        F.sum("d1").over(w).alias("cum_tp"),
        F.sum("t").over(w).alias("cum_n"),
    )
    tot = d.agg(
        F.sum("d1").cast("double").alias("n1"),
        F.sum(F.col("t") - F.col("d1")).cast("double").alias("n0"),
    )
    return (
        cums.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n0")
        .agg(
            F.round(
                F.sum(
                    (F.col("d1") / F.col("n1"))
                    * (F.col("cum_tp") * 1.0 / F.col("cum_n"))
                ),
                6,
            ).alias("average_precision")
        )
        .select(
            F.col("n1").cast("bigint").alias("n_pos"),
            F.col("n0").cast("bigint").alias("n_neg"),
            F.round(
                F.col("n1") / (F.col("n1") + F.col("n0")), 6
            ).alias("prevalence"),
            "average_precision",
        )
    )


# --- round-5: isotonic calibration with an EXACT SQL oracle ----------

ISO_BINS = 24


@query(
    "ml_isotonic_calibration",
    oracle=f"""
        WITH scored AS (
            SELECT CAST(FLOOR(
                       (1.0 / (1.0 + EXP(-2.0 * CAST(embedding[1] AS DOUBLE))))
                       * {ISO_BINS}) AS BIGINT) AS bin,
                   CASE WHEN CAST(embedding[1] AS DOUBLE)
                             + 0.1 * CAST(embedding[2] AS DOUBLE) > 0
                        THEN 1.0 ELSE 0.0 END AS y
            FROM embeddings
        ),
        b AS (
            SELECT bin, CAST(COUNT(*) AS DOUBLE) AS w, AVG(y) AS ybar
            FROM scored GROUP BY bin
        ),
        idx AS (SELECT bin, ROW_NUMBER() OVER (ORDER BY bin) AS i,
                       w, ybar FROM b),
        -- weighted block averages a(j,k) for every j <= k
        a AS (
            SELECT lo.i AS j, hi.i AS k,
                   SUM(m.w * m.ybar) / SUM(m.w) AS avg_jk
            FROM idx lo JOIN idx hi ON hi.i >= lo.i
            JOIN idx m ON m.i BETWEEN lo.i AND hi.i
            GROUP BY lo.i, hi.i
        ),
        -- m(j,i) = min over k >= i of a(j,k): reverse running min per j
        mm AS (
            SELECT j, k AS i,
                   MIN(avg_jk) OVER (PARTITION BY j ORDER BY k DESC
                       ROWS UNBOUNDED PRECEDING) AS m
            FROM a
        )
        SELECT idx.bin,
               CAST(idx.w AS BIGINT) AS n,
               ROUND(idx.ybar, 6) AS raw_rate,
               ROUND(MAX(mm.m), 6) AS fitted
        FROM mm JOIN idx ON idx.i = mm.i
        WHERE mm.j <= mm.i
        GROUP BY idx.bin, idx.w, idx.ybar
    """,
    tags=("ml", "calibration", "mllib", "isotonic"),
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAVA) probability calibration — the nonparametric
    sibling of Platt scaling every production classifier ships with —
    fitted by MLlib's distributed ``IsotonicRegression`` on binned
    (score, empirical rate, weight) points and verified EXACTLY: the
    isotonic L2 projection is unique and admits the closed minimax
    characterization fitted(i) = max_{{j<=i}} min_{{k>=i}} wavg(j..k),
    which the DuckDB oracle evaluates directly (block averages → per-j
    reverse running min → per-i max). An iterative MLlib fit therefore
    gets a bit-checkable SQL oracle — same trick class as the
    deterministic-Lloyd conversions, but via a closed-form optimality
    characterization instead of trajectory pinning.

    Scale: binning collapses the corpus to ≤{bins} weighted points
    map-side, so the fit input is dimension-sized at any corpus scale;
    MLlib's isotonic runs PAVA per partition + boundary merge."""
    from pyspark.ml.feature import VectorAssembler  # noqa: F401 (MLlib surface)
    from pyspark.ml.regression import IsotonicRegression

    em = load_table(spark, sf_dir, "embeddings")
    x1 = F.element_at("embedding", 1).cast("double")
    x2 = F.element_at("embedding", 2).cast("double")
    scored = em.select(
        F.floor((1.0 / (1.0 + F.exp(-2.0 * x1))) * ISO_BINS).cast("bigint").alias("bin"),
        F.when(x1 + 0.1 * x2 > 0, 1.0).otherwise(0.0).alias("y"),
    )
    b = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("w"), F.avg("y").alias("ybar")
    )
    iso = IsotonicRegression(
        featuresCol="f", labelCol="ybar", weightCol="w", isotonic=True
    )
    from pyspark.ml.functions import array_to_vector

    train = b.select(
        "bin", "w", "ybar", array_to_vector(F.array(F.col("bin").cast("double"))).alias("f")
    )
    model = iso.fit(train)
    fitted = model.transform(train)
    return fitted.select(
        "bin",
        F.col("w").cast("bigint").alias("n"),
        F.round("ybar", 6).alias("raw_rate"),
        F.round("prediction", 6).alias("fitted"),
    )


# --- round-5: split-conformal prediction intervals -------------------

CONF_ALPHA = 0.1  # target miscoverage -> 90% intervals


@query(
    "ml_conformal_interval",
    oracle=f"""
        WITH base AS (
            SELECT l_quantity AS x, l_extendedprice AS y,
                   CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_'
                        || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 10 AS b
            FROM lineitem
        ),
        fit AS (
            SELECT COUNT(*) AS n_train,
                   (SUM(x * y) - SUM(x) * SUM(y) / COUNT(*))
                   / (SUM(x * x) - SUM(x) * SUM(x) / COUNT(*)) AS slope,
                   SUM(y) / COUNT(*)
                   - (SUM(x * y) - SUM(x) * SUM(y) / COUNT(*))
                     / (SUM(x * x) - SUM(x) * SUM(x) / COUNT(*))
                     * SUM(x) / COUNT(*) AS icept
            FROM base WHERE b < 6
        ),
        calib AS (
            SELECT ROUND(ABS(y - (icept + slope * x)), 6) AS r
            FROM base, fit WHERE b IN (6, 7)
        ),
        nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_calib FROM calib),
        qhat AS (
            SELECT r AS q FROM (
                SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rk FROM calib)
            WHERE rk = (SELECT CAST(CEIL((n_calib + 1) * (1.0 - {CONF_ALPHA}))
                               AS BIGINT) FROM nq)
        ),
        test AS (
            SELECT ROUND(ABS(y - (icept + slope * x)), 6) AS r
            FROM base, fit WHERE b >= 8
        )
        SELECT (SELECT n_train FROM fit)            AS n_train,
               (SELECT n_calib FROM nq)             AS n_calib,
               CAST(COUNT(*) AS BIGINT)             AS n_test,
               ROUND((SELECT slope FROM fit), 4)    AS slope,
               ROUND((SELECT icept FROM fit), 4)    AS intercept,
               ROUND((SELECT q FROM qhat), 4)       AS qhat,
               ROUND(AVG(CASE WHEN r <= (SELECT q FROM qhat)
                              THEN 1.0 ELSE 0.0 END), 4) AS coverage
        FROM test
    """,
    tags=("ml", "inference", "conformal", "lineitem"),
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals — the distribution-free
    uncertainty wrapper production models ship with: fit any point
    model on the TRAIN split (here closed-form OLS price~quantity from
    one moment aggregate), take qhat = the ⌈(n+1)(1−α)⌉-th smallest
    absolute calibration residual, and ŷ ± qhat covers ≥ 1−α of fresh
    points by exchangeability alone. Everything is deterministic: the
    3-way split is the md5-hash-bucket idiom (6/2/2), the quantile is
    an EXACT order statistic over residuals ROUNDED to 6 before
    ranking (so a ~1e-12 cross-engine drift in the fitted coefficients
    cannot reorder ties), and coverage compares the same rounded
    values. qhat is extracted by ``functions.ranks.values_at_ranks``: a
    bucket ledger locates rank k's bucket, and only that bucket is
    ranked (r11 — replacing the r10 TakeOrdered form whose
    limit(n−k+1) ≈ α·n was DATA-sized: per-partition heaps of 10% of
    the calibration slice merging through one point). No refit, no
    iteration, nothing data-sized in one task.
    Output: split sizes, coefficients, qhat, and the empirical test
    coverage (≈ 0.9)."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    base = li.select(
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
        bucket.alias("b"),
    ).persist()
    # one moment aggregate yields both coefficients (no second scan)
    fit = (
        base.filter(F.col("b") < 6)
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .select(
            "n_train",
            (
                (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n_train"))
                / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_train"))
            ).alias("slope"),
            (
                F.col("sy") / F.col("n_train")
                - (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n_train"))
                / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_train"))
                * F.col("sx") / F.col("n_train")
            ).alias("icept"),
        )
    )
    resid = F.round(
        F.abs(F.col("y") - (F.col("icept") + F.col("slope") * F.col("x"))), 6
    )
    # calib feeds the driver-side count and the rank module's passes:
    # checkpoint it so the fit is not recomputed per consumer
    calib = (
        base.filter(F.col("b").isin(6, 7))
        .crossJoin(F.broadcast(fit))
        .select(resid.alias("r"))
        .localCheckpoint(eager=False)
    )
    n_calib = calib.count()
    import math as _m

    k = int(_m.ceil((n_calib + 1) * (1.0 - CONF_ALPHA)))
    # Degenerate calibration slices fail LOUDLY (r10 advice): the old
    # rank-window form returned an empty frame when k > n, and a
    # limit(0)+MIN form would silently emit a NULL-qhat row instead.
    if not 1 <= k <= n_calib:
        raise ValueError(
            f"conformal rank k={k} outside calibration size n={n_calib}"
        )
    # qhat = the k-th SMALLEST rounded residual; value-at-rank is
    # tie-invariant (equal residuals share a value), so the picked
    # value is exactly the oracle's ROW_NUMBER k-th.
    qhat = values_at_ranks(calib, "r", {"q": F.lit(k - 1)}, by=()).select("q")
    test = (
        base.filter(F.col("b") >= 8)
        .crossJoin(F.broadcast(fit))
        .select(resid.alias("r"))
    )
    return (
        test.crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.round(F.avg(F.when(F.col("r") <= F.col("q"), 1.0).otherwise(0.0)), 4)
            .alias("coverage"),
            F.round(F.first("q"), 4).alias("qhat"),
        )
        .crossJoin(F.broadcast(fit))
        .select(
            F.col("n_train").cast("bigint").alias("n_train"),
            F.lit(n_calib).cast("bigint").alias("n_calib"),
            "n_test",
            F.round("slope", 4).alias("slope"),
            F.round("icept", 4).alias("intercept"),
            "qhat",
            "coverage",
        )
    )


# --- round-6 carriers: first-time 'feature-selection' and 'report'
# entries ---------------------------------------------------------------

ANOVA_TOP_FEATURES = 10


@query(
    "ml_anova_f_selection",
    oracle=f"""
        WITH x AS (
            SELECT label,
                   CAST(generate_subscripts(embedding, 1) AS BIGINT) AS j,
                   CAST(UNNEST(embedding) AS DOUBLE) AS v
            FROM embeddings
        ),
        per_g AS (
            SELECT j, label, COUNT(*) AS n_g, SUM(v) AS s_g, SUM(v * v) AS ss_g
            FROM x GROUP BY j, label
        ),
        per_j AS (
            SELECT j,
                   CAST(COUNT(*) AS BIGINT)       AS k_groups,
                   CAST(SUM(n_g) AS BIGINT)       AS n,
                   SUM(s_g)                       AS s,
                   SUM(s_g * s_g / n_g)           AS sum_gmean_sq,
                   SUM(ss_g)                      AS ss
            FROM per_g GROUP BY j
        )
        SELECT j AS feature,
               k_groups, n,
               ROUND(((sum_gmean_sq - s * s / n) / (k_groups - 1))
                     / ((ss - sum_gmean_sq) / (n - k_groups)), 6) AS f_stat
        FROM per_j
        ORDER BY f_stat DESC, feature
        LIMIT {ANOVA_TOP_FEATURES}
    """,
    tags=("ml", "feature-selection", "embeddings"),
)
def ml_anova_f_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-statistic feature ranking (sklearn
    ``f_classif``): between-group over within-group mean squares per
    embedding dimension against the class label, top-10 features.
    The whole test reduces to ONE aggregation over (feature, label)
    cells carrying (n, Σx, Σx²) — the sufficient-statistic trick that
    makes filter-method selection a single map-side-combined pass at
    100 TB (MI sibling: ``ml_mutual_info_feature``). posexplode is
    1-based to match the oracle's generate_subscripts."""
    em = load_table(spark, sf_dir, "embeddings")
    x = em.select(
        "label", F.posexplode(to_double(F.col("embedding")))
    ).select(
        "label",
        (F.col("pos") + 1).cast("bigint").alias("j"),
        F.col("col").alias("v"),
    )
    per_g = x.groupBy("j", "label").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("v").alias("s_g"),
        F.sum(F.col("v") * F.col("v")).alias("ss_g"),
    )
    per_j = per_g.groupBy("j").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g")).alias(
            "sum_gmean_sq"
        ),
        F.sum("ss_g").alias("ss"),
    )
    msb = (F.col("sum_gmean_sq") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("k_groups") - 1
    )
    msw = (F.col("ss") - F.col("sum_gmean_sq")) / (
        F.col("n") - F.col("k_groups")
    )
    return (
        per_j.select(
            F.col("j").alias("feature"),
            "k_groups",
            "n",
            F.round(msb / msw, 6).alias("f_stat"),
        )
        .orderBy(F.col("f_stat").desc(), "feature")
        .limit(ANOVA_TOP_FEATURES)
    )


@query(
    "ml_report_macro_micro",
    oracle="""
        WITH maj AS (
            SELECT source, lang AS pred,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY COUNT(*) DESC, lang) AS rn
            FROM documents GROUP BY source, lang
        ),
        scored AS (
            SELECT d.doc_id, d.lang AS truth, m.pred
            FROM documents d JOIN maj m
              ON m.source = d.source AND m.rn = 1
        ),
        classes AS (SELECT DISTINCT lang AS cls FROM documents),
        per_cls AS (
            SELECT c.cls,
                   CAST(COUNT(*) FILTER (WHERE s.truth = c.cls
                                           AND s.pred = c.cls) AS DOUBLE) AS tp,
                   CAST(COUNT(*) FILTER (WHERE s.truth <> c.cls
                                           AND s.pred = c.cls) AS DOUBLE) AS fp,
                   CAST(COUNT(*) FILTER (WHERE s.truth = c.cls
                                           AND s.pred <> c.cls) AS DOUBLE) AS fn,
                   CAST(COUNT(*) FILTER (WHERE s.truth = c.cls) AS BIGINT)
                       AS support
            FROM classes c CROSS JOIN scored s
            GROUP BY c.cls
        ),
        rows_out AS (
            SELECT cls,
                   CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS p,
                   CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END AS r,
                   support
            FROM per_cls
        ),
        with_f1 AS (
            SELECT cls, p, r,
                   CASE WHEN p + r > 0 THEN 2 * p * r / (p + r)
                        ELSE 0.0 END AS f1,
                   support
            FROM rows_out
        )
        SELECT cls, ROUND(p, 6) AS precision_, ROUND(r, 6) AS recall_,
               ROUND(f1, 6) AS f1, support
        FROM with_f1
        UNION ALL
        SELECT '<macro>', ROUND(AVG(p), 6), ROUND(AVG(r), 6),
               ROUND(AVG(f1), 6), CAST(SUM(support) AS BIGINT)
        FROM with_f1
        UNION ALL
        SELECT '<micro>',
               ROUND(AVG(CASE WHEN truth = pred THEN 1.0 ELSE 0.0 END), 6),
               ROUND(AVG(CASE WHEN truth = pred THEN 1.0 ELSE 0.0 END), 6),
               ROUND(AVG(CASE WHEN truth = pred THEN 1.0 ELSE 0.0 END), 6),
               CAST(COUNT(*) AS BIGINT)
        FROM scored
    """,
    tags=("ml", "report", "documents"),
)
def ml_report_macro_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification report with MACRO and MICRO rows (sklearn
    ``classification_report`` incl. its averaging semantics): per-class
    precision/recall/F1/support for the source-majority-lang heuristic
    classifier, plus the macro (unweighted class mean) and micro
    (= accuracy for single-label) summary rows — completing the
    evaluation-report family (per-class only: ``ml_precision_recall``,
    certified r02). The per-class pass is one small-classes × scored
    broadcast join; every division-by-zero edge is pinned to 0.0 as
    sklearn does."""
    d = load_table(spark, sf_dir, "documents")
    wmaj = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("lang")
    )
    maj = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "source",
            F.col("lang").alias("pred"),
            F.row_number().over(wmaj).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    scored = d.join(F.broadcast(maj), "source").select(
        F.col("lang").alias("truth"), "pred"
    )
    classes = d.select(F.col("lang").alias("cls")).distinct()
    per_cls = (
        F.broadcast(classes)
        .join(scored)
        .groupBy("cls")
        .agg(
            F.count(
                F.when((F.col("truth") == F.col("cls"))
                       & (F.col("pred") == F.col("cls")), 1)
            ).cast("double").alias("tp"),
            F.count(
                F.when((F.col("truth") != F.col("cls"))
                       & (F.col("pred") == F.col("cls")), 1)
            ).cast("double").alias("fp"),
            F.count(
                F.when((F.col("truth") == F.col("cls"))
                       & (F.col("pred") != F.col("cls")), 1)
            ).cast("double").alias("fn"),
            F.count(F.when(F.col("truth") == F.col("cls"), 1))
            .cast("bigint").alias("support"),
        )
    )
    p = F.when(F.col("tp") + F.col("fp") > 0,
               F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(0.0)
    r = F.when(F.col("tp") + F.col("fn") > 0,
               F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(0.0)
    with_f1 = per_cls.select(
        "cls",
        p.alias("p"),
        r.alias("r"),
        F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(0.0).alias("f1"),
        "support",
    )
    cls_rows = with_f1.select(
        "cls",
        F.round("p", 6).alias("precision_"),
        F.round("r", 6).alias("recall_"),
        F.round("f1", 6).alias("f1"),
        "support",
    )
    macro = with_f1.agg(
        F.lit("<macro>").alias("cls"),
        F.round(F.avg("p"), 6).alias("precision_"),
        F.round(F.avg("r"), 6).alias("recall_"),
        F.round(F.avg("f1"), 6).alias("f1"),
        F.sum("support").cast("bigint").alias("support"),
    )
    acc = F.round(
        F.avg(F.when(F.col("truth") == F.col("pred"), 1.0).otherwise(0.0)), 6
    )
    micro = scored.agg(
        F.lit("<micro>").alias("cls"),
        acc.alias("precision_"),
        acc.alias("recall_"),
        acc.alias("f1"),
        F.count(F.lit(1)).cast("bigint").alias("support"),
    )
    return cls_rows.unionByName(macro).unionByName(micro)


# --- round-7 spare carriers: feature-selection / encoding / report ------

CHI2_TOP_FEATURES = 10


@query(
    "ml_chi2_feature_selection",
    oracle=f"""
        WITH x AS (
            SELECT label,
                   CAST(generate_subscripts(embedding, 1) AS BIGINT) AS j,
                   CAST(UNNEST(embedding) AS DOUBLE) AS v
            FROM embeddings
        ),
        med AS (
            SELECT j, MEDIAN(v) AS m FROM x GROUP BY j
        ),
        o AS (
            SELECT x.j, x.label, CAST(x.v > med.m AS INTEGER) AS bin,
                   COUNT(*) AS obs
            FROM x JOIN med USING (j)
            GROUP BY x.j, x.label, CAST(x.v > med.m AS INTEGER)
        ),
        marg AS (
            SELECT j,
                   CAST(SUM(obs) AS DOUBLE) AS n
            FROM o GROUP BY j
        ),
        rowm AS (SELECT j, label, SUM(obs) AS rn_ FROM o GROUP BY j, label),
        colm AS (SELECT j, bin, SUM(obs) AS cn_ FROM o GROUP BY j, bin)
        SELECT o.j AS feature,
               ROUND(SUM(POW(o.obs - rowm.rn_ * colm.cn_ / marg.n, 2)
                         / (rowm.rn_ * colm.cn_ / marg.n)), 6) AS chi2
        FROM o
        JOIN marg USING (j)
        JOIN rowm ON rowm.j = o.j AND rowm.label = o.label
        JOIN colm ON colm.j = o.j AND colm.bin = o.bin
        GROUP BY o.j
        ORDER BY chi2 DESC, feature
        LIMIT {CHI2_TOP_FEATURES}
    """,
    tags=("ml", "feature-selection", "embeddings"),
)
def ml_chi2_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared feature ranking on MEDIAN-BINARIZED features vs the
    class label (the sklearn chi2-filter shape for continuous inputs):
    observed (feature-bin × label) counts against independence
    expectations, top features by the statistic. Like the ANOVA-F
    sibling (``ml_anova_f_selection``), everything reduces to
    sufficient-statistic aggregates — one posexplode pass for the
    per-feature medians, one for the contingency counts — so the
    filter is two map-side-combined passes at any scale. Missing
    (feature, bin, label) cells contribute nothing to the statistic in
    either engine (identical observed-cell iteration)."""
    em = load_table(spark, sf_dir, "embeddings")
    x = em.select(
        "label", F.posexplode(to_double(F.col("embedding")))
    ).select(
        "label",
        (F.col("pos") + 1).cast("bigint").alias("j"),
        F.col("col").alias("v"),
    )
    med = x.groupBy("j").agg(F.expr("percentile(v, 0.5)").alias("m"))
    o = (
        x.join(F.broadcast(med), "j")
        .select(
            "j", "label", (F.col("v") > F.col("m")).cast("int").alias("bin")
        )
        .groupBy("j", "label", "bin")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    marg = o.groupBy("j").agg(F.sum("obs").cast("double").alias("n"))
    rowm = o.groupBy("j", "label").agg(F.sum("obs").alias("rn_"))
    colm = o.groupBy("j", "bin").agg(F.sum("obs").alias("cn_"))
    ex = F.col("rn_") * F.col("cn_") / F.col("n")
    return (
        o.join(marg, "j")
        .join(rowm, ["j", "label"])
        .join(colm, ["j", "bin"])
        .groupBy(F.col("j").alias("feature"))
        .agg(F.round(F.sum(F.pow(F.col("obs") - ex, 2) / ex), 6).alias("chi2"))
        .orderBy(F.col("chi2").desc(), "feature")
        .limit(CHI2_TOP_FEATURES)
    )


@query(
    "ml_woe_encoding",
    oracle="""
        WITH t AS (
            SELECT c.c_custkey, c.c_mktsegment AS seg,
                   CAST(MAX(CASE WHEN o.o_orderpriority = '1-URGENT'
                                 THEN 1 ELSE 0 END) AS INTEGER) AS y
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_mktsegment
        ),
        tot AS (
            SELECT CAST(SUM(y) AS DOUBLE) AS pos_tot,
                   CAST(COUNT(*) - SUM(y) AS DOUBLE) AS neg_tot
            FROM t
        ),
        seg AS (
            SELECT seg,
                   CAST(COUNT(*) AS BIGINT)  AS n,
                   CAST(SUM(y) AS DOUBLE)    AS pos,
                   CAST(COUNT(*) - SUM(y) AS DOUBLE) AS neg
            FROM t GROUP BY seg
        )
        SELECT seg.seg AS segment, seg.n,
               CAST(seg.pos AS BIGINT) AS n_pos,
               ROUND(LN(((seg.pos + 0.5) / (tot.pos_tot + 1.0))
                        / ((seg.neg + 0.5) / (tot.neg_tot + 1.0))), 6) AS woe,
               ROUND((seg.pos / tot.pos_tot - seg.neg / tot.neg_tot)
                     * LN(((seg.pos + 0.5) / (tot.pos_tot + 1.0))
                          / ((seg.neg + 0.5) / (tot.neg_tot + 1.0))), 6)
                                                                  AS iv_term
        FROM seg, tot
    """,
    tags=("ml", "encoding", "customer", "orders"),
)
def ml_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT-OF-EVIDENCE categorical encoding (the credit-scoring
    standard; out-of-fold mean sibling: ``ml_target_encoding_oof``,
    certified r05): per market segment, the smoothed log-odds ratio of
    the binary target (customer ever placed an URGENT order) plus that
    segment's Information-Value term. The target derivation is one
    customer-grain aggregate over a left join; the encoding table is
    |segments| rows with totals broadcast — train-free, leakage-free,
    and exactly restatable in SQL (the +0.5/+1 Laplace terms pin the
    zero-cell edges in both engines)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    t = (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy("c_custkey", F.col("c_mktsegment").alias("seg"))
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).cast("int").alias("y")
        )
    )
    tot = t.agg(
        F.sum("y").cast("double").alias("pos_tot"),
        (F.count(F.lit(1)) - F.sum("y")).cast("double").alias("neg_tot"),
    )
    seg = t.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("double").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("double").alias("neg"),
    )
    woe = F.log(
        ((F.col("pos") + 0.5) / (F.col("pos_tot") + 1.0))
        / ((F.col("neg") + 0.5) / (F.col("neg_tot") + 1.0))
    )
    return seg.join(F.broadcast(tot)).select(
        F.col("seg").alias("segment"),
        "n",
        F.col("pos").cast("bigint").alias("n_pos"),
        F.round(woe, 6).alias("woe"),
        F.round(
            (F.col("pos") / F.col("pos_tot") - F.col("neg") / F.col("neg_tot"))
            * woe,
            6,
        ).alias("iv_term"),
    )


KS_CRIT_005 = 1.3581  # Kolmogorov critical coefficient at alpha = 0.05


@query(
    "ml_ks_two_sample",
    oracle=f"""
        WITH s AS (
            SELECT o_totalprice AS v,
                   CAST(o_orderpriority = '1-URGENT' AS INTEGER) AS g1,
                   CAST(o_orderpriority = '5-LOW' AS INTEGER)    AS g2
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        tot AS (SELECT CAST(SUM(g1) AS DOUBLE) AS n1,
                       CAST(SUM(g2) AS DOUBLE) AS n2 FROM s),
        cum AS (
            SELECT v,
                   SUM(SUM(g1)) OVER (ORDER BY v) AS c1,
                   SUM(SUM(g2)) OVER (ORDER BY v) AS c2
            FROM s GROUP BY v
        ),
        d AS (
            SELECT MAX(ABS(c1 / tot.n1 - c2 / tot.n2)) AS d_stat
            FROM cum, tot
        )
        SELECT CAST(tot.n1 AS BIGINT) AS n1,
               CAST(tot.n2 AS BIGINT) AS n2,
               ROUND(d.d_stat, 6)     AS d_stat,
               ROUND({KS_CRIT_005} * SQRT((tot.n1 + tot.n2)
                                          / (tot.n1 * tot.n2)), 6)
                                      AS d_crit_005,
               d.d_stat > {KS_CRIT_005} * SQRT((tot.n1 + tot.n2)
                                               / (tot.n1 * tot.n2))
                                      AS reject_h0
        FROM d, tot
    """,
    tags=("ml", "stats", "report", "inference", "orders"),
)
def ml_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV test: D = sup |ECDF₁ − ECDF₂|
    between URGENT and LOW order totals, against the α = 0.05
    large-sample critical value (fixed 1.3581 coefficient — the house
    no-CDF idiom). The ECDFs come from ONE value-grouped aggregate +
    a cumulative window over the |distinct values| frame (ties handled
    by grouping BEFORE the cumsum, so both engines evaluate the sup at
    value boundaries identically); the verdict row is scale-free.
    Distribution-drift siblings: stats_psi_drift (binned),
    stats_mann_whitney_u (rank-based)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    s = o.select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("g1"),
        (F.col("o_orderpriority") == "5-LOW").cast("int").alias("g2"),
    )
    tot = s.agg(
        F.sum("g1").cast("double").alias("n1"),
        F.sum("g2").cast("double").alias("n2"),
    )
    byv = s.groupBy("v").agg(
        F.sum("g1").alias("s1"), F.sum("g2").alias("s2")
    )
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = byv.select(
        F.sum("s1").over(wcum).alias("c1"),
        F.sum("s2").over(wcum).alias("c2"),
    )
    d = cum.join(F.broadcast(tot)).agg(
        F.max(F.abs(F.col("c1") / F.col("n1") - F.col("c2") / F.col("n2")))
        .alias("d_stat")
    )
    crit = KS_CRIT_005 * F.sqrt(
        (F.col("n1") + F.col("n2")) / (F.col("n1") * F.col("n2"))
    )
    return d.join(F.broadcast(tot)).select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round("d_stat", 6).alias("d_stat"),
        F.round(crit, 6).alias("d_crit_005"),
        (F.col("d_stat") > crit).alias("reject_h0"),
    )


# --- round-8 spares: ordinal encoding + dispersion feature filter -------


@query(
    "ml_ordinal_freq_encoding",
    oracle="""
        WITH freq AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY event_type
        ),
        enc AS (
            SELECT event_type, cnt,
                   CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, event_type)
                        AS BIGINT) AS ord_code
            FROM freq
        )
        SELECT e.event_type, enc.ord_code, enc.cnt,
               ROUND(enc.cnt * 1.0 / (SELECT SUM(cnt) FROM freq), 6)
                   AS freq_share,
               CAST(COUNT(*) AS BIGINT) AS n_rows_encoded
        FROM events e JOIN enc ON enc.event_type = e.event_type
        GROUP BY e.event_type, enc.ord_code, enc.cnt
    """,
    tags=("ml", "encoding", "events"),
)
def ml_ordinal_freq_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FREQUENCY-ORDERED ordinal encoding: categories ranked by corpus
    frequency (most common = code 1, ties alphabetical) with each
    code's share — the count-encoding cousin that preserves an
    interpretable order (alphabetic ordinal: ``ml_label_encoding``;
    supervised: ``ml_target_encoding_oof`` / ``ml_woe_encoding``).
    The encoder table is |categories| rows built in one
    map-side-combined count, broadcast back onto the stream; the
    output proves the round trip (every row re-joined to its code)."""
    e = load_table(spark, sf_dir, "events")
    freq = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.orderBy(F.col("cnt").desc(), "event_type")
    enc = freq.select(
        "event_type", "cnt", F.row_number().over(w).cast("bigint").alias(
            "ord_code"
        )
    )
    tot = freq.agg(F.sum("cnt").alias("tot"))
    return (
        e.join(F.broadcast(enc), "event_type")
        .groupBy("event_type", "ord_code", "cnt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows_encoded"))
        .join(F.broadcast(tot))
        .select(
            "event_type",
            "ord_code",
            "cnt",
            F.round(F.col("cnt") * 1.0 / F.col("tot"), 6).alias("freq_share"),
            "n_rows_encoded",
        )
    )


VARSEL_TOP = 10


@query(
    "ml_variance_ratio_selection",
    oracle=f"""
        WITH x AS (
            SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT) AS j,
                   CAST(UNNEST(embedding) AS DOUBLE) AS v
            FROM embeddings
        ),
        per_j AS (
            SELECT j,
                   VAR_POP(v)                       AS var_j,
                   AVG(v)                           AS mean_j
            FROM x GROUP BY j
        ),
        tot AS (SELECT AVG(var_j) AS mean_var FROM per_j)
        SELECT j AS feature,
               ROUND(var_j, 6)                      AS variance,
               ROUND(var_j / tot.mean_var, 6)       AS var_ratio,
               ROUND(ABS(mean_j), 6)                AS abs_mean
        FROM per_j, tot
        ORDER BY var_j DESC, feature
        LIMIT {VARSEL_TOP}
    """,
    tags=("ml", "feature-selection", "embeddings"),
)
def ml_variance_ratio_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSUPERVISED dispersion filter (sklearn ``VarianceThreshold``'s
    ranking form): per-feature population variance, its ratio to the
    mean feature variance, top features — the zeroth-order screen
    before any supervised selection (supervised siblings:
    ``ml_anova_f_selection``, ``ml_chi2_feature_selection``,
    ``ml_mutual_info_feature``). One posexplode + one (feature)
    aggregate of sufficient statistics — a single map-side-combined
    pass at any scale."""
    em = load_table(spark, sf_dir, "embeddings")
    x = em.select(F.posexplode(to_double(F.col("embedding")))).select(
        (F.col("pos") + 1).cast("bigint").alias("j"),
        F.col("col").alias("v"),
    )
    per_j = x.groupBy("j").agg(
        F.var_pop("v").alias("var_j"), F.avg("v").alias("mean_j")
    )
    tot = per_j.agg(F.avg("var_j").alias("mean_var"))
    return (
        per_j.join(F.broadcast(tot))
        .select(
            F.col("j").alias("feature"),
            F.round("var_j", 6).alias("variance"),
            F.round(F.col("var_j") / F.col("mean_var"), 6).alias("var_ratio"),
            F.round(F.abs("mean_j"), 6).alias("abs_mean"),
        )
        .orderBy(F.col("variance").desc(), "feature")
        .limit(VARSEL_TOP)
    )
