from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from javascript_vector_database_spark import registry
from javascript_vector_database_spark.operators import knn
from javascript_vector_database_spark.pivots import make_pivots
from javascript_vector_database_spark.tables import load_table
from tests.oracle_harness import compare


def test_knn_batch_oracle(spark, sf_oracle):
    compare(
        spark,
        sf_oracle,
        registry.queries()["knn_batch_exact"],
        registry.oracle_sql()["knn_batch_exact"],
    )


def test_knn_batch_each_query_matches_single(spark, sf_oracle):
    """Per-query slices of the batch result equal the single-query path."""
    from javascript_vector_database_spark.operators import knn as K
    from javascript_vector_database_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_oracle, "embeddings")
    batch = registry.queries()["knn_batch_exact"](spark, sf_oracle).collect()
    for qid in (1, 3, 5):
        got = [
            (r["vec_id"], r["distance"]) for r in batch if r["query_id"] == qid
        ]
        qv = registry.get_query_vec(spark, sf_oracle, vec_id=qid)
        want = [
            (r["vec_id"], r["distance"])
            for r in K.exact_knn(emb, qv).collect()
        ]
        assert got == want


def test_knn_exact_oracle(spark, sf_oracle):
    compare(spark, sf_oracle, registry.knn_exact, registry.oracle_sql()["knn_exact"])


def test_knn_exact_self_is_nearest(spark, sf_smoke):
    qv = registry.get_query_vec(spark, sf_smoke)
    top = registry.knn_exact(spark, sf_smoke).collect()
    assert top[0]["vec_id"] == registry.QVEC_ID
    assert top[0]["distance"] == 0.0
    dists = [r["distance"] for r in top]
    assert dists == sorted(dists)
    assert len(top) == 10


def test_ann_range_oracle(spark, sf_oracle):
    compare(
        spark, sf_oracle, registry.knn_ann_range, registry.oracle_sql()["knn_ann_range"]
    )


def test_ann_range_subset_of_table_and_ranked(spark, sf_smoke):
    """Index-path ⊆ scan-path metamorphic check (the reference author's own
    oracle, SURVEY.md §5.2)."""
    qv = registry.get_query_vec(spark, sf_smoke)
    pivots = make_pivots(len(qv))[:5]
    emb = load_table(spark, sf_smoke, "embeddings")
    exact = {r["vec_id"]: r["distance"] for r in knn.exact_knn(emb, qv, k=50).collect()}
    ann = knn.ann_index_range(emb, qv, pivots).collect()
    for r in ann:
        if r["vec_id"] in exact:
            assert abs(exact[r["vec_id"]] - r["distance"]) < 1e-9


def test_ann_similarity_recall(spark, sf_smoke):
    qv = registry.get_query_vec(spark, sf_smoke)
    pivots = make_pivots(len(qv))[:5]
    emb = load_table(spark, sf_smoke, "embeddings")
    exact_ids = {r["vec_id"] for r in knn.exact_knn(emb, qv).collect()}
    ann_ids = {
        r["vec_id"] for r in knn.ann_index_similarity(emb, qv, pivots).collect()
    }
    # 100 docs/side/pivot on a 500-row table covers nearly everything
    recall = len(exact_ids & ann_ids) / len(exact_ids)
    assert recall >= 0.8, recall


def test_flagship_oracle(spark, sf_oracle):
    compare(
        spark,
        sf_oracle,
        registry.flagship_search,
        registry.oracle_sql()["flagship_search"],
    )


def test_scan_and_point_lookup_oracles(spark, sf_oracle):
    qs, osql = registry.queries(), registry.oracle_sql()
    compare(spark, sf_oracle, qs["scan_documents"], osql["scan_documents"])
    compare(spark, sf_oracle, qs["point_lookup"], osql["point_lookup"])


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) == 10
    assert rows[0]["distance"] == 0.0


def test_compat_range_oracle(spark, sf_oracle):
    compare(
        spark,
        sf_oracle,
        registry.queries()["knn_ann_range_compat"],
        registry.oracle_sql()["knn_ann_range_compat"],
    )


def test_compat_string_range_divergence(spark):
    """Documents the §1.3 quirk: the lexicographic string index mis-orders
    across integer-digit-count regimes.  With a pivot window whose key
    bounds straddle the 1-digit/2-digit boundary (lo key '7.35...', hi key
    '13.65...'), string comparison excludes EVERYTHING: any key > '7.35'
    starts with '7'..'9' and therefore also sorts above '13.65'
    ('9' > '1'), while keys in the '10.x'-'13.x' regime sort below '7.35'
    ('1' < '7').  Double mode (the consciously-fixed scale path) returns
    the true candidates."""
    rows = [
        (1, [2.05, 0.0]),  # dist to pivot = 1.05 -> key '10.5000000'
        (2, [1.9, 0.0]),   # dist 0.9  -> key '9.00000000' (numeric window IN)
        (3, [2.6, 0.0]),   # dist 1.6  -> key '16.0000000' (numeric OUT)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    pivots = [[1.0, 0.0]]
    qv = [2.05, 0.0]  # d_pivot = 1.05; window +-0.3 -> (0.735, 1.365)
    wide = 0.3
    dbl = {
        r["vec_id"]
        for r in knn.ann_index_range(df, qv, pivots, index_distance=wide).collect()
    }
    compat = {
        r["vec_id"]
        for r in knn.ann_index_range_compat(
            df, qv, pivots, index_distance=wide
        ).collect()
    }
    assert dbl == {1, 2}
    # the quirk: the string window across the digit-count boundary is
    # lexicographically empty — the reference would MISS both candidates
    assert compat == set()


def test_mmr_skips_near_copies(spark):
    """MMR must pass over a near-copy of an already-selected item in
    favor of a diverse one, where plain top-k would take the copy."""
    from javascript_vector_database_spark.operators.knn import mmr_rerank

    rows = [
        (1, [0.9, 0.43, 0.0], "a"),    # best match to q
        (2, [0.9, 0.44, 0.0], "b"),    # near-copy of 1 (sim ~1)
        (3, [0.9, -0.43, 0.0], "c"),   # equally relevant, diverse
        (4, [0.7, 0.0, 0.7], "d"),     # diverse
        (5, [-1.0, 0.0, 0.0], "e"),    # anti-relevant
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = [r["vec_id"] for r in mmr_rerank(emb, [1.0, 0.0, 0.0], k=3)
           .orderBy("rank").collect()]
    assert out[0] == 1
    assert 2 not in out[1:]  # the near-copy is passed over
    assert set(out[1:]) <= {3, 4}


def test_mmr_oracle(spark, sf_oracle):
    compare(
        spark,
        sf_oracle,
        registry.queries()["knn_mmr_rerank"],
        registry.oracle_sql()["knn_mmr_rerank"],
    )


def test_lit_double_array_bit_identical(spark):
    """The one-parse literal path must produce bit-identical doubles to
    the per-element F.lit path — incl. subnormals, huge magnitudes,
    negative zero, and non-terminating binary fractions."""
    import struct

    from pyspark.sql import functions as F

    from javascript_vector_database_spark.functions.vector import (
        lit_double_array,
    )

    vals = [
        0.1 + 0.2, -0.0, 5e-324, 1e300, -1.7976931348623157e308,
        123456789.123456789, 2.0 ** -1022, 1 / 3,
        float("nan"), float("inf"), float("-inf"),
    ]
    old = spark.range(1).select(
        F.array(*[F.lit(float(x)) for x in vals]).alias("a")
    ).first()["a"]
    new = spark.range(1).select(lit_double_array(vals).alias("a")).first()["a"]
    assert all(
        struct.pack("d", a) == struct.pack("d", b) for a, b in zip(old, new)
    )
    assert len(old) == len(new) == len(vals)


# -- degenerate inputs: the five served strategies against a Python model --

_DIM = 4
_PIVOTS = make_pivots(_DIM)[:3]


def _py_dist(a, b) -> float:
    return knn._py_euclid(a, b)


def _model(rows, q, strategy, k, index_distance, docs_per_side):
    """Python model of each strategy's answer over (id, vec) rows: the
    candidate ids, then the exact top-k by (distance, id)."""
    idx = {i: [_py_dist(v, p) for p in _PIVOTS] for i, v in rows}
    if strategy == "exact":
        cands = set(idx)
    elif strategy.startswith("range"):
        bands = knn.pivot_bands(q, _PIVOTS, index_distance)
        cands = {
            i for i, ds in idx.items()
            if any(lo < d < hi for d, (lo, hi) in zip(ds, bands))
        }
    else:
        cands = set()
        for n, p in enumerate(_PIVOTS):
            d = _py_dist(p, q)
            below = sorted((-ds[n], i) for i, ds in idx.items() if ds[n] < d)
            above = sorted((ds[n], i) for i, ds in idx.items() if ds[n] > d)
            cands |= {i for _, i in below[:docs_per_side] + above[:docs_per_side]}
    vecs = dict(rows)
    ranked = sorted((_py_dist(vecs[i], q), i) for i in cands)
    return [(i, d) for d, i in ranked[:k]]


def _run(spark, tmp_path, df, q, strategy, k, index_distance, docs_per_side, id_col):
    if strategy == "exact":
        return knn.exact_knn(df, q, k=k, id_col=id_col)
    if strategy in ("range", "neigh"):
        pre = knn.build_pivot_index(df, _PIVOTS)
        if strategy == "range":
            return knn.ann_index_range(
                pre, q, _PIVOTS, k=k, index_distance=index_distance,
                id_col=id_col, precomputed=True,
            )
        return knn.ann_index_similarity(
            pre, q, _PIVOTS, k=k, docs_per_side=docs_per_side,
            id_col=id_col, precomputed=True,
        )
    base = str(tmp_path / "pivot_index")
    knn.write_pivot_index_tables(df, _PIVOTS, base, id_col=id_col)
    if strategy == "range_stored":
        return knn.ann_index_range_stored(
            spark, base, q, _PIVOTS, k=k, index_distance=index_distance,
            id_col=id_col,
        )
    return knn.ann_index_similarity_stored(
        spark, base, q, _PIVOTS, k=k, docs_per_side=docs_per_side, id_col=id_col,
    )


_STRATEGIES = ["exact", "range", "neigh", "range_stored", "neigh_stored"]
_ROWS = [
    ("c00000", [0.0, 0.0, 0.0, 0.0]),
    ("c00001", [1.0, 0.0, 0.0, 0.0]),
    ("c00002", [0.0, 2.0, 0.0, 0.0]),
    ("c00003", [0.0, 0.0, 3.0, 1.0]),
    ("c00004", [1.0, 1.0, 1.0, 1.0]),
    ("c00005", [1.0, 1.0, 1.0, 1.0]),  # a duplicate vector: every tie on the id
]
_CASES = {
    # (rows, query, k, index_distance, docs_per_side)
    "empty_table": ([], [0.5, 0.5, 0.5, 0.5], 10, 0.5, 2),
    "k_above_rows": (_ROWS, [0.5, 0.5, 0.5, 0.5], 50, 0.5, 100),
    # the query sits ON pivot 0: no row is strictly below d_0 = 0
    "pivot_side_empty": (_ROWS, _PIVOTS[0], 3, 0.5, 2),
}


@pytest.mark.parametrize("case", sorted(_CASES))
@pytest.mark.parametrize("strategy", _STRATEGIES)
def test_knn_degenerate_inputs(spark, tmp_path, strategy, case):
    """Empty table, k above the row count, a pivot with no rows on one
    side, with string ids as in the live table: each strategy returns
    the model's (possibly empty or short) answer and never raises."""
    rows, q, k, index_distance, docs_per_side = _CASES[case]
    df = spark.createDataFrame(rows, "id string, embedding array<double>")
    got = _run(
        spark, tmp_path, df, q, strategy, k, index_distance, docs_per_side, "id"
    ).collect()
    want = _model(rows, q, strategy, k, index_distance, docs_per_side)
    assert [r["id"] for r in got] == [i for i, _ in want]
    assert [r["distance"] for r in got] == pytest.approx(
        [d for _, d in want], abs=1e-6
    )
    assert len(got) <= min(k, len(rows))


def test_write_pivot_index_spreads_one_partition_base(spark, tmp_path):
    """A one-partition source is written as n_files base files, so the
    exact scan and the doc reads run as several tasks; the rows are
    unchanged."""
    rows = [(i, [float(i % 7), float(i % 5), 1.0, float(i)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = df.coalesce(1)
    assert src.rdd.getNumPartitions() == 1
    base = str(tmp_path / "pivot_index")
    knn.write_pivot_index_tables(src, _PIVOTS, base, n_files=4)
    back = spark.read.parquet(f"{base}/base")
    sizes = back.rdd.glom().map(len).collect()
    assert sum(1 for n in sizes if n > 0) > 1, sizes
    assert sorted((r["vec_id"], list(r["embedding"])) for r in back.collect()) == sorted(
        (i, v) for i, v in rows
    )
