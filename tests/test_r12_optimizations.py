"""Round-12 optimization regression tests.

Each optimization that changed an operator's internals gets a focused
identity test: the optimized path must produce exactly the rows the
original path produced (the same contract as test_r11_optimizations).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def messy_docs(spark):
    # empty text, NULL text, whitespace, short strings, a near-dup pair
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, ""),
            (4, None),
            (5, "x"),
            (6, "abcd"),
            (7, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )


def test_lloyd_partials_kernel_matches_jvm_aggregate(spark):
    """One Lloyd iteration's per-cluster integer sums from the r12
    mapInArrow kernel must equal the r11 JVM form (_assign_udf +
    sum(element_at(_quant_col(v), i)) aggregate) exactly."""
    import numpy as np
    from pyspark.sql import functions as F

    from duckdb_geography_spark.llm import cluster as CL

    import pandas as pd

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    sample = np.stack(
        pd.read_parquet(
            f"{SF_DIR}/embeddings.parquet", columns=["embedding"]
        )["embedding"].to_numpy()[:32]
    ).astype(np.float64)
    cents = CL._init_centroids(sample, 4, 11)
    base = emb.select(F.col("embedding").alias("__v"))
    got_rows = base.mapInArrow(
        CL._lloyd_partials_kernel(cents), "__c int, __sums array<long>"
    ).collect()
    got: dict = {}
    for r in got_rows:
        v = np.asarray(r["__sums"], dtype=np.int64)
        got[int(r["__c"])] = got.get(int(r["__c"]), 0) + v

    agg = F.expr(
        "array("
        + ", ".join(f"sum(element_at(__qv, {i + 1}))" for i in range(dim))
        + ") AS __sums"
    )
    ref_rows = (
        emb.select(
            F.col("embedding").alias("__v"),
            CL._quant_col("embedding").alias("__qv"),
        )
        .withColumn("__c", CL._assign_udf(cents)("__v"))
        .where(F.col("__c").isNotNull())
        .groupBy("__c")
        .agg(agg)
        .collect()
    )
    ref = {
        int(r["__c"]): np.asarray(
            [int(v) if v is not None else 0 for v in r["__sums"]], dtype=np.int64
        )
        for r in ref_rows
    }
    assert set(got) == set(ref)
    for c in ref:
        assert (got[c] == ref[c]).all(), c


def test_lloyd_partials_kernel_ignores_dirty_vectors():
    """A vector with a NaN, inf or NULL element gets no assignment and
    adds nothing to the cluster sums: mixing such rows (and a NULL
    vector) into clean rows leaves the clean rows' sums unchanged."""
    import numpy as np
    import pyarrow as pa

    from duckdb_geography_spark.llm import cluster as CL

    rng = np.random.default_rng(5)
    clean = rng.normal(size=(40, 8)).tolist()
    cents = CL._init_centroids(np.asarray(clean[:16]), 3, 11)
    nan_row, inf_row, null_row = clean[0][:], clean[1][:], clean[2][:]
    nan_row[3], inf_row[5], null_row[1] = float("nan"), float("inf"), None
    dirty = clean[:10] + [nan_row, None] + clean[10:25] + [inf_row, null_row] + clean[25:]

    def sums(rows):
        batch = pa.RecordBatch.from_arrays(
            [pa.array(rows, type=pa.list_(pa.float64()))], ["__v"]
        )
        out = next(CL._lloyd_partials_kernel(cents)([batch])).to_pydict()
        return dict(zip(out["__c"], out["__sums"]))

    assert sums(dirty) == sums(clean)


def test_char_entropy_features_hook_identical(spark, messy_docs):
    """char_entropy_stats(features=...) must equal the join of the
    caller's own projection with the featureless result — the r12
    text_stats fusion contract."""
    from pyspark.sql import functions as F

    from duckdb_geography_spark.llm import textstats as T

    feats = {
        "n_char": T.char_count("text").cast("long"),
        "fp": T.fingerprint_md5("text"),
    }
    fused = _rows(T.char_entropy_stats(messy_docs, features=feats))
    stats = messy_docs.select(
        "doc_id",
        T.char_count("text").cast("long").alias("n_char"),
        T.fingerprint_md5("text").alias("fp"),
    )
    ref = _rows(
        stats.join(T.char_entropy_stats(messy_docs), "doc_id").select(
            "doc_id", "n_char", "fp", "h_char"
        )
    )
    assert fused == ref


def test_cell_gates_single_lonlat_evaluation(spark):
    """The vertex/neighbor/union oracle gates must carry exactly one
    _cellfromlonlat evaluation per distinct point (the composed form
    inlined 11/11/25 copies — the pip_covering_join pathology)."""
    import __spark_entry__ as e

    qs = e.queries()
    for name, expected in (
        ("cell_vertex_gate", 1),
        ("cell_neighbor_gate", 1),
        ("cell_union_gate", 2),
    ):
        plan = (
            qs[name](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("_cellfromlonlat_udf(") == expected, name


def test_group_then_format_rewrites_identical(spark):
    """tpch_top_orders / events_hourly group on raw date/timestamp and
    format AFTER the aggregate (r12) — results must equal the
    format-inside-groupBy originals."""
    from pyspark.sql import functions as F

    import __spark_entry__ as e

    spark_qs = e.queries()
    got_to = _rows(spark_qs["tpch_top_orders"](spark, SF_DIR))
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")) * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    bld = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ob = orders.join(
        F.broadcast(bld), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "o_orderdate")
    ref_to = _rows(
        li.join(F.broadcast(ob), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
                "o_orderdate_s"
            ),
        )
        .agg(F.sum(rev).alias("revenue_cc"))
        .orderBy(F.desc("revenue_cc"), "o_orderkey")
        .limit(10)
    )
    assert got_to == ref_to

    got_eh = _rows(spark_qs["events_hourly"](spark, SF_DIR))
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ref_eh = _rows(
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 1000000).cast("long")).alias(
                "value_micro"
            ),
        )
        .orderBy("hour", "event_type")
    )
    assert got_eh == ref_eh


def test_events_hourly_pins_utc_for_non_utc_session(spark, monkeypatch):
    """events_hourly groups before it formats, which matches the
    oracle only in UTC: a session opened in another zone still gets
    the oracle's rows through _prep, and a session whose zone is not
    UTC after _prep fails loudly instead of returning shifted hours."""
    import duckdb

    import __spark_entry__ as e

    conf = "spark.sql.session.timeZone"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "Asia/Kolkata")
        got = _rows(e.queries()["events_hourly"](spark, SF_DIR))
        assert spark.conf.get(conf) == "UTC"
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS FROM '{SF_DIR}/events.parquet'")
        want = sorted(con.sql(e.oracle_sql_builders()["events_hourly"]()).fetchall())
        con.close()
        assert got == want

        spark.conf.set(conf, "Asia/Kolkata")
        monkeypatch.setattr(e, "_prep", lambda spark: None)
        with pytest.raises(RuntimeError, match="timeZone=UTC"):
            e.queries()["events_hourly"](spark, SF_DIR)
    finally:
        spark.conf.set(conf, before)
