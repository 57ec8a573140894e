"""Focused pins for the r17 plan rewrites (operator internals changed, the
declared results must not):

- the Lloyd-chain packed-centroid argmin (q_cluster_kmeans /
  q_dedup_semantic / q_embed_kmeans_elbow) replaced the broadcast-join +
  row_number window — array_min over struct<d2, cell> must reproduce the
  window's ORDER BY d2 ASC, cell ASC winner, exact ties included, and the
  full 3-iteration chain must match the old plan row-for-row on a fixture;
- the q_multimodal_phash_dedup hash stage became three stacked map-only
  projections — pa/pb/mean must match the old explode+window+agg values
  byte-for-byte, strict `>` threshold included.
"""

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="sf0.001 fixture not present"
)


def test_argmin_cell_breaks_exact_d2_ties_on_lower_cell(spark):
    from iceberg_rest_catalog_spark.llm.similarity import _argmin_cell

    # centroids 3 and 7 are mirror images of v => exactly equal d2
    df = spark.createDataFrame(
        [([0.0, 0.0], [[7, [1.0, 0.0]], [3, [-1.0, 0.0]]])],
        "emb array<double>, cents array<struct<cell:bigint, c:array<double>>>",
    )
    row = df.select(
        _argmin_cell(F.col("emb"), F.col("cents")).alias("best")
    ).collect()[0]["best"]
    assert row["cell"] == 3 and row["d2"] == 1.0


def _window_lloyd(e, k):
    """The pre-r17 broadcast-join + row_number reference chain."""
    from iceberg_rest_catalog_spark.llm.similarity import _l2sq

    cent = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"), F.col("emb").alias("c")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cell"))
    assigned = None
    for it in range(3):
        assigned = (
            e.join(F.broadcast(cent))
            .withColumn("d2", _l2sq(F.col("emb"), F.col("c")))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )
        if it < 2:
            cent = (
                assigned.select("cell", F.posexplode("emb").alias("d", "val"))
                .groupBy("cell", "d")
                .agg(F.avg("val").alias("v"))
                .groupBy("cell")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("d", "v"))),
                        lambda s: s.v,
                    ).alias("c")
                )
                .localCheckpoint()
            )
    return assigned


def test_packed_kmeans_matches_window_reference(spark):
    from iceberg_rest_catalog_spark.llm.similarity import (
        K_CLUSTERS, _dbl, _emb, _kmeans_assigned,
    )

    e = _emb(spark, SF_DIR).select(
        "vec_id", "label", _dbl("embedding").alias("emb")
    )
    ref = sorted(
        (r["vec_id"], r["label"], r["cell"])
        for r in _window_lloyd(e, K_CLUSTERS)
        .select("vec_id", "label", "cell")
        .collect()
    )
    new = sorted(
        (r["vec_id"], r["label"], r["cell"])
        for r in _kmeans_assigned(spark, SF_DIR)
        .select("vec_id", "label", "cell")
        .collect()
    )
    assert new == ref and len(new) == 500


def test_combined_k_elbow_matches_per_k_reference(spark):
    from iceberg_rest_catalog_spark.llm.similarity import (
        ELBOW_KS, _dbl, _emb, q_embed_kmeans_elbow,
    )

    e = _emb(spark, SF_DIR).select("vec_id", _dbl("embedding").alias("emb"))
    ref = []
    for k in ELBOW_KS:
        a = _window_lloyd(e.withColumn("label", F.lit(0)), k)
        ref.append(
            tuple(
                a.agg(
                    F.lit(k).cast("int"),
                    F.count("*").cast("bigint"),
                    F.round(F.sum("d2"), 4),
                    F.round(F.sum("d2") / F.count("*"), 4),
                ).collect()[0]
            )
        )
    new = sorted(map(tuple, q_embed_kmeans_elbow(spark, SF_DIR).collect()))
    assert new == sorted(ref)


def test_phash_hash_stage_matches_explode_window_reference(spark):
    from iceberg_rest_catalog_spark.catalog.data_queries import t

    d = (
        t(spark, SF_DIR, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.hex(F.encode("text", "utf-8")).alias("hx"))
        .withColumn("n", (F.length("hx") / 2).cast("int"))
        .filter(F.col("n") >= 64)
    )
    by = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 63), i -> "
                "CAST(conv(substring(hx, 1 + 2 * i * CAST(n / 64 AS INT), 2), "
                "16, 10) AS BIGINT))"
            )
        ).alias("i", "byte"),
    ).withColumn("mean", F.avg("byte").over(Window.partitionBy("doc_id")))
    ref = sorted(
        map(
            tuple,
            by.groupBy("doc_id")
            .agg(
                F.sum(
                    F.expr(
                        "CASE WHEN i < 32 AND byte > mean "
                        "THEN shiftleft(1L, i) ELSE 0L END"
                    )
                ).alias("pa"),
                F.sum(
                    F.expr(
                        "CASE WHEN i >= 32 AND byte > mean "
                        "THEN shiftleft(1L, i - 32) ELSE 0L END"
                    )
                ).alias("pb"),
            )
            .collect(),
        )
    )
    from iceberg_rest_catalog_spark.llm.multimodal import (
        _phash_words,
        q_multimodal_phash_dedup,
    )

    # the production hash stage (it feeds the registered query)
    new = sorted(map(tuple, _phash_words(d).collect()))
    assert new == ref and len(new) > 0
    # and the declared query's rows equal its registered DuckDB oracle's
    import duckdb

    from iceberg_rest_catalog_spark.registry import oracles

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = con.execute(oracles()["q_multimodal_phash_dedup"]).fetchdf()
    got = q_multimodal_phash_dedup(spark, SF_DIR).toPandas()
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)

    def rows(df):
        return sorted(tuple(map(int, r)) for r in df[cols].itertuples(index=False))

    assert rows(got) == rows(want) and len(want) > 0


def test_phash_threshold_is_strictly_greater_than_mean(spark):
    from iceberg_rest_catalog_spark.llm.multimodal import _phash_words

    # all 64 bytes equal => byte == mean everywhere => no bit set; one byte
    # above the others => exactly its bit (byte 63 = bit 31 of pb)
    df = spark.createDataFrame(
        [(1, "a" * 64), (2, "a" * 63 + "b")], "doc_id long, text string"
    )
    d = df.select(
        "doc_id", F.hex(F.encode("text", "utf-8")).alias("hx")
    ).withColumn("n", (F.length("hx") / 2).cast("int"))
    rows = sorted(map(tuple, _phash_words(d).collect()))
    assert rows == [(1, 0, 0), (2, 0, 1 << 31)]
