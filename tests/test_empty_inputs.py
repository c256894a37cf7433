"""Empty-input robustness: at cluster scale empty partitions and
empty filter results are routine — every operator must return an
empty (correctly-typed) frame, not raise.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _empty_docs(spark):
    return spark.createDataFrame(
        [],
        StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        ),
    )


def test_dedup_family_on_empty(spark):
    from utility_service_areas_spark.operators.dedup import (
        exact_dedup_groups,
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        simhash_candidate_pairs,
    )

    docs = _empty_docs(spark)
    assert exact_dedup_groups(docs, "doc_id", "text").count() == 0
    assert ngram_jaccard_pairs(docs, "doc_id", "text").count() == 0
    sig = minhash_signatures(docs, "doc_id", "text")
    assert lsh_candidate_pairs(sig).count() == 0
    assert simhash_candidate_pairs(docs, "doc_id", "text").count() == 0


def test_connected_components_on_empty(spark):
    from utility_service_areas_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [],
        StructType(
            [StructField("doc_a", LongType()), StructField("doc_b", LongType())]
        ),
    )
    assert connected_components(pairs).count() == 0


def test_asof_join_on_empty_sides(spark):
    from utility_service_areas_spark.operators.temporal import asof_join

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("ts", LongType()),
            StructField("v", LongType()),
        ]
    )
    empty = spark.createDataFrame([], schema)
    some = spark.createDataFrame([(1, 10, 7)], schema)
    # empty left → empty out; empty right → left rows with null asof
    assert asof_join(empty, some, ["k"], "ts", ["v"]).count() == 0
    rows = asof_join(some, empty, ["k"], "ts", ["v"]).collect()
    assert len(rows) == 1 and rows[0].asof_v is None


def test_geometry_udfs_on_empty_and_null(spark):
    from utility_service_areas_spark.functions.geometry import (
        POLYGON_DTYPE,
        st_area,
        st_union_multi,
    )

    df = spark.createDataFrame(
        [(1, None)],
        StructType(
            [StructField("id", LongType()), StructField("g", POLYGON_DTYPE)]
        ),
    )
    row = df.select(
        st_area("g").alias("a"), st_union_multi(F.array()).alias("u")
    ).collect()[0]
    assert row.a is None and list(row.u) == []


def test_fetch_on_empty_keys(spark):
    from utility_service_areas_spark.sources.fetch import fetch_assets

    keys = spark.createDataFrame(
        [],
        StructType([StructField("k", StringType()), StructField("u", StringType())]),
    )
    assert fetch_assets(keys, "k", "u", fetcher=lambda u: b"x").count() == 0


def test_kmeans_more_clusters_than_rows(spark):
    from utility_service_areas_spark.operators.kmeans import kmeans_fit_assign

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(DoubleType())),
            ]
        ),
    )
    out = kmeans_fit_assign(emb, "vec_id", "embedding", k=5, n_iter=2).collect()
    assert len(out) == 2  # k > n degrades gracefully to n seeds


def test_r7_operators_on_empty(spark):
    from utility_service_areas_spark.operators.dedup import minhash_verified_pairs
    from utility_service_areas_spark.operators.graph import pagerank_micros
    from utility_service_areas_spark.operators.kmeans import kmeans_fit_assign_np

    docs = _empty_docs(spark)
    assert minhash_verified_pairs(docs, "doc_id", "text").count() == 0

    edges = spark.createDataFrame(
        [],
        StructType([StructField("src", LongType()), StructField("dst", LongType())]),
    )
    assert pagerank_micros(edges).count() == 0

    # k-means on an EMPTY frame degenerates at seeding (no vectors to
    # seed from) — the contract is an empty assignment, not a crash.
    emb = spark.createDataFrame(
        [],
        StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(DoubleType())),
            ]
        ),
    )
    assert kmeans_fit_assign_np(emb, "vec_id", "embedding", k=4, n_iter=2).count() == 0


def test_numpy_ivf_assign_on_empty(spark):
    from utility_service_areas_spark.operators.ann import ivf_topk

    emb = spark.createDataFrame(
        [],
        StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(DoubleType())),
            ]
        ),
    )
    out = ivf_topk(emb, emb, n_centroids=64, assign_via="numpy")
    assert out.count() == 0


def test_suffix_lrs_on_empty(spark):
    from utility_service_areas_spark.operators.suffix import doc_repeat_stats

    out = doc_repeat_stats(_empty_docs(spark))
    assert out.count() == 0
    assert out.columns == [
        "doc_id", "n_positions", "max_rep_len", "n_pos_rep_ge8",
    ]


def test_r6_queries_on_empty_substrate(spark, tmp_path):
    """Cluster-scale routine: empty filter results / empty partitions.
    Every r6 plan query must return an empty, correctly-typed frame on
    an empty substrate — not raise (null percentile bounds, null
    max(vec_id), empty recursive closure are all on this path)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    schemas = {
        "documents": pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        ),
        "events": pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        ),
        "orders": pa.schema(
            [
                ("o_orderkey", pa.int64()),
                ("o_custkey", pa.int64()),
                ("o_orderstatus", pa.string()),
                ("o_totalprice", pa.float64()),
                ("o_orderdate", pa.timestamp("us")),
                ("o_orderpriority", pa.string()),
            ]
        ),
        "embeddings": pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
    }
    for name, schema in schemas.items():
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array([], type=f.type) for f in schema], schema=schema
            ),
            str(tmp_path / f"{name}.parquet"),
        )
    for key in (
        "docs_repetition_signals",
        "domain_quota_sample",
        "dedup_exact_substring",
        "event_anomaly_zscore",
        "customer_rfm_segments",
        "embedding_pair_histogram",
        "dedup_keep_best",
    ):
        assert e.queries()[key](spark, str(tmp_path)).count() == 0, key
