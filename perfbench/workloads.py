"""The three workloads. Each ``run_pass`` is one closed-loop pass: it
calls the public functions of ``paqarin_spark`` through ``call`` (the
tracer), collects what it needs for the correctness check, and returns
those outputs. Every Spark action of a pass happens inside a ``call``,
so the traced calls account for the pass's wall time."""

from __future__ import annotations

from pyspark.sql import functions as F

from checks import TOPK, brute_force_topk
from paqarin_spark.evaluation import MultivariatePredictiveScorer
from paqarin_spark.functions.text import quality_score
from paqarin_spark.generator import GeneratorParameters
from paqarin_spark.generators import (
    BlockBootstrapGenerator,
    GANWindowGenerator,
    GaussianPerStepGenerator,
)
from paqarin_spark.metrics.univariate import UnivariateForecastScorer
from paqarin_spark.operators.dedup import duplicate_clusters, keep_first, minhash_lsh_pairs
from paqarin_spark.operators.resample import calendar_fill
from paqarin_spark.operators.similarity import (
    cosine_dedup_pairs,
    cosine_topk,
    ivf_topk,
    kmeans_lloyd,
)
from paqarin_spark.schema import TimeSeriesSchema
from paqarin_spark.sources import read_table

GENERATORS = ("bootstrap", "gaussian", "gan")
EVENTS_SCHEMA = TimeSeriesSchema(
    item_id_columns=("user_id",),
    timestamp_column="ts",
    value_columns=("value",),
    frequency="D",
    order_columns=("event_id",),
)
DAILY_SCHEMA = TimeSeriesSchema(
    item_id_columns=("user_id",),
    timestamp_column="bucket",
    value_columns=("value",),
    frequency="D",
)


def _materialize(df):
    """Persist and count: the frame is computed once, inside the call
    that built it, instead of inside whichever later call uses it."""
    df = df.persist()
    df.count()
    return df


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def tstr_eval(spark, work_dir: str, call) -> dict:
    """The paper's pipeline: fit three generators on the gap-filled
    daily series, score them train-on-synthetic/test-on-real with both
    scorers, pick the best, and sample from it."""
    events = call("sources.read", read_table, spark, work_dir, "events")
    daily = call(
        "resample.calendar_fill",
        lambda: _materialize(
            calendar_fill(events, EVENTS_SCHEMA, bucket_column="bucket").select(
                "user_id", "bucket", "value"
            )
        ),
    )
    params = GeneratorParameters(schema=DAILY_SCHEMA, sequence_length=8, seed=17)
    gens = {
        "bootstrap": BlockBootstrapGenerator(params),
        "gaussian": GaussianPerStepGenerator(params),
        "gan": GANWindowGenerator(params, epochs=50),
    }
    for gen in gens.values():
        call("generators.fit", gen.fit, daily)
    scorer = MultivariatePredictiveScorer(
        sequence_length=8, iterations=1, number_of_sequences=50
    )
    call("evaluation.score", scorer.calculate_many, gens, daily)
    summary, best = call(
        "evaluation.summary",
        lambda: (scorer.summary_metrics, scorer.best_generator_name),
    )
    uni = UnivariateForecastScorer(
        prediction_length=7, iterations=1, number_of_sequences=30
    )

    def univariate():
        uni.calculate_many(gens, daily)
        return uni.summary_metrics

    uni_summary = call("metrics.univariate_score", univariate)
    sample = call(
        "generators.generate",
        lambda: _rows(
            gens[best].generate(100).select(
                "sequence_id",
                F.transform("sequence", lambda o: F.round(o["value"], 6)).alias("v"),
            ),
            "sequence_id",
            "v",
        ),
    )
    return {
        "summary": sorted(summary, key=lambda r: r["generator"]),
        "best": best,
        "univariate": sorted(uni_summary, key=lambda r: r["generator"]),
        "sample": sample,
    }


def vector_search(spark, work_dir: str, call) -> dict:
    """The read path of the similarity layer: build a k-means coarse
    quantizer, serve the probes with IVF, then serve them exactly."""
    corpus, probes = call(
        "sources.read",
        lambda: (
            read_table(spark, work_dir, "vectors"),
            read_table(spark, work_dir, "probes"),
        ),
    )

    def kmeans():
        assign, _ = kmeans_lloyd(
            corpus, "vec_id", "embedding", k=16, iterations=2, assignment="blas"
        )
        return [r["n"] for r in assign.groupBy("cluster").agg(F.count("*").alias("n")).collect()]

    sizes = call("similarity.kmeans", kmeans)
    probe_ids = F.broadcast(probes.select(F.col("vec_id").alias("query_id")))
    ivf = call(
        "similarity.ivf_topk",
        lambda: ivf_topk(
            corpus, "vec_id", "embedding", k=TOPK, num_cells=16,
            centroids="first_ids", nprobe=4,
        )
        .join(probe_ids, "query_id")
        .collect(),
    )
    # k+1: each probe is a corpus row, so exact search returns it first
    exact = call(
        "similarity.cosine_topk",
        lambda: cosine_topk(
            corpus, "vec_id", "embedding", k=TOPK + 1, queries=probes
        ).collect(),
    )
    return {"cluster_sizes": sizes, "ivf_rows": ivf, "exact_rows": exact}


def corpus_dedup(spark, work_dir: str, call) -> dict:
    """The curation path: score quality, find near-duplicate candidates
    by MinHash-LSH on the text and by cosine on the embeddings, cluster
    the union of both pair sets, keep the best document per cluster."""
    docs, emb = call(
        "sources.read",
        lambda: (
            read_table(spark, work_dir, "documents"),
            read_table(spark, work_dir, "embeddings"),
        ),
    )
    quality = call(
        "text.quality",
        lambda: _materialize(
            docs.select("doc_id", quality_score(F.col("text")).alias("quality"))
        ),
    )

    def pairs(fn, *args, **kwargs):
        df = fn(*args, **kwargs).select("id_a", "id_b").localCheckpoint()
        return df, _rows(df, "id_a", "id_b")

    lsh, lsh_rows = call(
        "dedup.minhash_lsh_pairs", pairs, minhash_lsh_pairs, docs, "text", "doc_id"
    )
    cos, cos_rows = call(
        "similarity.cosine_dedup_pairs",
        pairs, cosine_dedup_pairs, emb, "vec_id", "embedding", threshold=0.9,
    )

    def clusters():
        df = duplicate_clusters(lsh.unionByName(cos), algorithm="contract")
        return df, {int(r["doc"]): int(r["cluster_rep"]) for r in df.collect()}

    cl, cluster_of = call("dedup.duplicate_clusters", clusters)
    kept = call(
        "dedup.keep_first",
        lambda: keep_first(
            cl.join(quality, cl["doc"] == quality["doc_id"]),
            ["cluster_rep"],
            [F.col("quality").desc(), F.col("doc")],
        ).collect(),
    )
    return {
        "cluster_of": cluster_of,
        "kept": {int(r["cluster_rep"]): int(r["doc"]) for r in kept},
        "lsh_pairs": lsh_rows,
        "cos_pairs": cos_rows,
    }


def prepare_truth(workload: str, truth: dict) -> dict:
    """Expected results computed on the driver, once per run, from the
    generator's ground truth."""
    if workload == "vector_search":
        truth["expected_topk"] = brute_force_topk(
            truth["ids"], truth["vecs"], truth["probe_ids"], truth["probe_vecs"], TOPK + 1
        )
    if workload == "tstr_eval":
        truth["generators"] = GENERATORS
    return truth


PASSES = {
    "tstr_eval": tstr_eval,
    "vector_search": vector_search,
    "corpus_dedup": corpus_dedup,
}
