"""Focused pins for the r11 optimizations (OPTIMIZATION_r11.md):

- zero-exchange / zero-sort SMJ for the orderkey fact joins over the
  sorted co-bucketed layout (q3/q18 MERGE hint +
  spark.sql.legacy.bucketedTableScan.outputOrdering), and its safety pin:
  the engine's bucketed writer leaves one file per bucket, and a layout
  with two files per bucket still plans a Sort under that flag
- broadcast-class dims cached as a single partition
- the __ivf_probes view memo (skip probe-projection rebuild for a
  repeated query batch; rebuild when the batch or probe width changes)
- text_tfidf_topk's array_distinct document-frequency branch is
  value-identical to the aggregate-dedup form
"""

from __future__ import annotations

import os

import pytest

from universql_spark.queries import ensure_views, load_all
from universql_spark.operators import similarity
from universql_spark.session import _files_per_bucket, _write_bucketed

REG = load_all()

SF01 = "/root/testdata/sf0.1"
needs_sf01 = pytest.mark.skipif(
    not os.path.exists(f"{SF01}/lineitem.parquet"), reason="sf0.1 fixture missing"
)


def _exec_plan(spark, sf_dir, name: str) -> str:
    df = REG[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@needs_sf01
@pytest.mark.parametrize("name", ["tpch_q3", "tpch_q18_big_orders"])
def test_fact_join_zero_sort_smj_over_sorted_buckets(spark, sf_dir, name):
    # at sf0.1 lineitem/orders are co-bucketed AND sorted on orderkey with
    # one file per bucket; the MERGE(orders) hint + the session exposing
    # the bucket sort order must yield an SMJ with NO Sort node and NO
    # shuffle exchange anywhere in the plan (the only exchanges are the
    # dim broadcast and the tiny final-agg one for q3's TakeOrdered input)
    ensure_views(spark, SF01)
    try:
        p = _exec_plan(spark, SF01, name)
        assert "SortMergeJoin" in p
        assert p.count("Sort [") == 0  # zero-sort: scan order satisfies SMJ
        # the fact join is NOT an exchange consumer: no hashpartitioning
        # exchange on the orderkey
        assert "hashpartitioning(l_orderkey" not in p
        assert "hashpartitioning(o_orderkey" not in p
    finally:
        ensure_views(spark, sf_dir)  # restore the suite's views


def _self_join_plan(spark, path: str, table: str) -> str:
    spark.sql(
        f"CREATE TABLE {table} (id BIGINT, k BIGINT) USING parquet "
        f"CLUSTERED BY (k) SORTED BY (k) INTO 4 BUCKETS LOCATION '{path}'"
    )
    try:
        df = spark.sql(f"SELECT /*+ MERGE(b) */ a.id, b.id FROM {table} a JOIN {table} b ON a.k = b.k")
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.sql(f"DROP TABLE {table}")


def test_bucket_sort_order_needs_one_file_per_bucket(spark, tmp_path):
    """outputOrdering safety pin: with two files per bucket the scan must
    not claim its sort order, so the SMJ still sorts; the engine's writer
    leaves one file per bucket, and that layout plans zero sorts."""
    assert spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering") == "true"
    df = spark.range(0, 2000, 1, 2).selectExpr("id", "id % 97 AS k")
    two = str(tmp_path / "two")
    df.write.bucketBy(4, "k").sortBy("k").option("path", two).saveAsTable("uq_pin_two_tmp")
    spark.sql("DROP TABLE uq_pin_two_tmp")
    assert set(_files_per_bucket(two).values()) == {2}
    one = str(tmp_path / "one")
    _write_bucketed(df, 4, "k", one, "uq_pin_one_tmp")
    assert _files_per_bucket(one) == {0: 1, 1: 1, 2: 1, 3: 1}
    assert "Sort [" in _self_join_plan(spark, two, "uq_pin_two")
    plan = _self_join_plan(spark, one, "uq_pin_one")
    assert "SortMergeJoin" in plan and "Sort [" not in plan


def test_broadcast_class_dims_cached_single_partition(spark, sf_dir):
    ensure_views(spark, sf_dir)
    # every fresh star-join plan runs one broadcast collect job per dim;
    # the cache holds broadcast-class dims as ONE partition so those are
    # 1-task jobs (session.register_testdata)
    assert spark.table("region").rdd.getNumPartitions() == 1
    assert spark.table("customer").rdd.getNumPartitions() == 1


def test_ivf_probes_view_memoized_and_invalidated(spark, sf_dir):
    ensure_views(spark, sf_dir)
    emb = spark.table("embeddings")
    calls = {"n": 0}
    orig = similarity._probe_clusters

    def spy(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    similarity._probe_clusters = spy
    try:
        def run(n_probe):
            return sorted(
                map(
                    tuple,
                    similarity.ivf_topk(
                        emb, emb.filter("vec_id < 10"),
                        n_cells=8, n_probe=n_probe, k=5, sort=False,
                    ).collect(),
                )
            )

        r1 = run(8)
        first = calls["n"]
        assert first >= 1
        r2 = run(8)  # same batch, same width -> memo hit, no rebuild
        assert calls["n"] == first
        assert r1 == r2
        r3 = run(2)  # width change -> rebuild, and results still coherent
        assert calls["n"] == first + 1
        assert {t[0] for t in r3} <= {t[0] for t in r1}
        r4 = run(8)  # back to full probe: rebuild again, identical values
        assert calls["n"] == first + 2
        assert r4 == r1
    finally:
        similarity._probe_clusters = orig


def test_tfidf_distinct_dfq_matches_aggregate_dedup(spark, sf_dir):
    ensure_views(spark, sf_dir)
    got = REG["text_tfidf_topk"].spark(spark, sf_dir)
    ref = spark.sql("""
WITH tok AS (
  SELECT doc_id, explode(split(lower(trim(text)), ' +')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), dfq AS (
  SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY term
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT /*+ BROADCAST(nd) */ doc_id, tf.term,
         round(tf * (ln((n_docs + 1.0) / (dfreq + 1.0)) + 1.0), 6) AS score
  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN nd
)
SELECT doc_id, term, score FROM (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
  FROM scored)
WHERE rn <= 3""")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
