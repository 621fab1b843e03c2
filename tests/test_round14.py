"""Round-14 focused tests: cache residue of every operator that keeps
internal caches (on return and on raise), the AST guard that keeps
those caches inside ``cache_scope``, the PQ literal-SQL size-cap
fallback, and the scale_out rescue guard."""

import ast
import glob
import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from h2h_spark.operators import cluster as KM
from h2h_spark.operators import dedup as D
from h2h_spark.operators import graph as G
from h2h_spark.operators import hierarchy as H
from h2h_spark.operators import lm as LM
from h2h_spark.operators import opq as OPQ
from h2h_spark.operators import packing as PK
from h2h_spark.operators import pq as PQ
from h2h_spark.operators import rank as RK
from h2h_spark.operators import simsearch as SS
from h2h_spark.operators import sketch as SK
from h2h_spark.operators import spatial as SP
from h2h_spark.operators import text as TX
from h2h_spark.operators import unigram as UG


def _edges(spark):
    rows = [(i, (i * 7) % 40) for i in range(40)] + [(3, 17), (5, 29)]
    return spark.createDataFrame(rows, "src bigint, dst bigint").filter(
        "src <> dst"
    )


def _docs(spark):
    return spark.createDataFrame(
        [(i, ("alpha beta gamma delta epsilon zeta " * 4) + f"w{i % 3}")
         for i in range(30)],
        "doc_id bigint, text string",
    )


def _vecs(spark):
    return spark.createDataFrame(
        [(i, [float((i * 3 + j) % 7) for j in range(8)]) for i in range(40)],
        "id bigint, vec array<double>",
    )


def _pts(spark):
    return spark.createDataFrame(
        [(i, (i % 7) * 0.01, (i % 5) * 0.01) for i in range(60)],
        "pid bigint, x double, y double",
    )


def _sources(spark):
    return _edges(spark).select(F.col("src").alias("node")).limit(3)


def _minhash_against_index(spark):
    docs = _docs(spark)
    entries, sets = D.minhash_index(docs.filter("doc_id < 20"), "doc_id", "text")
    out = D.minhash_dedup_against_index(
        docs.filter("doc_id >= 20"), entries, sets, "doc_id", "text",
        jaccard_threshold=0.3,
    )
    sets.unpersist()  # the index tables are the caller's to release
    return out


# op -> function(spark) returning the operator's result
_RESIDUE_CASES = {
    "pagerank": lambda s: G.pagerank(_edges(s), iterations=2),
    "label_propagation": lambda s: G.label_propagation(_edges(s), iterations=2),
    "label_propagation_semisync": lambda s: G.label_propagation_semisync(
        _edges(s), rounds=2, substeps=2
    ),
    "bfs_distances": lambda s: G.bfs_distances(
        _edges(s), _sources(s), max_depth=6
    ),
    "sssp_bounded": lambda s: G.sssp_bounded(
        _edges(s).withColumn("w", F.lit(1.0)), _sources(s), max_dist=3.5
    ),
    "feature_propagation": lambda s: G.feature_propagation(
        _edges(s),
        _edges(s).select(F.col("src").alias("node")).distinct().withColumn(
            "feat", (F.col("node") % 9).cast("bigint")
        ),
        rounds=2,
    ),
    "triangle_count": lambda s: G.triangle_count(
        _edges(s), a="src", b="dst"
    ),
    "connected_components": lambda s: D.connected_components(
        _edges(s).select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    ),
    "simhash_near_duplicates": lambda s: D.simhash_near_duplicates(
        _docs(s), "doc_id", "text", max_hamming=30
    ),
    "jaccard_pairs": lambda s: D.jaccard_pairs(
        _docs(s), "doc_id", "text", threshold=0.1
    ),
    "prefix_filter_pairs": lambda s: D.prefix_filter_pairs(
        _docs(s), "doc_id", "text", threshold=0.5
    ),
    "minhash_near_duplicates": lambda s: D.minhash_near_duplicates(
        _docs(s), "doc_id", "text", jaccard_threshold=0.3
    ),
    "minhash_dedup_against_index": _minhash_against_index,
    "dbscan_2d": lambda s: SP.dbscan_2d(
        _pts(s), "pid", "x", "y", eps=0.02, min_pts=3
    ),
    "resolve_tree": lambda s: H.resolve_tree(
        s.createDataFrame(
            [(i, i // 2) for i in range(1, 30)], "child bigint, parent bigint"
        )
    ),
    "kmeans_fit": lambda s: KM.kmeans_fit(_vecs(s), "id", "vec", 3)[0],
    "pq_train": lambda s: PQ.pq_train(
        _vecs(s), "id", "vec", m=2, k=4, dim=8, iters=2
    ),
    "opq_train": lambda s: OPQ.opq_train(
        _vecs(s), "id", "vec", m=2, k=4, dim=8, rounds=2
    ),
    "perplexity": lambda s: LM.perplexity(_docs(s), "doc_id", "text"),
    "global_rank": lambda s: RK.global_rank(
        _docs(s), [("text", True), ("doc_id", True)], n_parts=4
    ),
    "pack_sequences": lambda s: PK.pack_sequences(
        _docs(s).withColumn("n", F.length("text")), "doc_id", "n", budget=500,
        n_parts=4,
    ),
    "unigram_train": lambda s: UG.unigram_train(
        _docs(s), "text", rounds=2, vocab_size=8, max_words=20
    ),
    "tfidf_keywords": lambda s: TX.tfidf_keywords(_docs(s), "doc_id", "text"),
    "kmv_jaccard_pairs": lambda s: SK.kmv_jaccard_pairs(
        _docs(s), "doc_id", "text", k=16, threshold=0.3
    ),
    "embedding_near_duplicates": lambda s: SS.embedding_near_duplicates(
        _vecs(s), "id", "vec", threshold=0.9, nbits=3, bands=4
    ),
    "embedding_near_duplicates_probe": lambda s: SS.embedding_near_duplicates(
        _vecs(s), "id", "vec", threshold=0.9, nbits=3, bands=4,
        probe_max_id=20,
    ),
    "semantic_dedup": lambda s: SS.semantic_dedup(
        _vecs(s), "id", "vec", n_clusters=3, threshold=0.9
    ),
}


def _cache_manager_empty(spark) -> bool:
    # DataFrame persist() caches register in the CacheManager; checkpoint
    # RDD storage does not, so a leaked operator-internal cache is the
    # only thing that can be listed here.
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("op", list(_RESIDUE_CASES))
def test_no_cache_residue(spark, op):
    """Every cache the operator keeps is released by the time it
    returns: the only persistent RDDs left after the run are
    localCheckpoint storage of the RESULT lineage (bounded, and owned by
    the returned DataFrame) — never the operator-internal edge / label /
    fingerprint / vector caches."""
    spark.catalog.clearCache()
    out = _RESIDUE_CASES[op](spark)
    if isinstance(out, DataFrame):
        out.write.format("noop").mode("overwrite").save()
    assert _cache_manager_empty(spark), f"{op}: operator left DataFrame cache residue"


def _raise_dbscan(spark, monkeypatch):
    def boom(*a, **k):
        raise RuntimeError("components failed")

    monkeypatch.setattr(D, "connected_components_star", boom)
    with pytest.raises(RuntimeError, match="components failed"):
        SP.dbscan_2d(_pts(spark), "pid", "x", "y", eps=0.02, min_pts=3)


def _raise_cc(spark, monkeypatch):
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(ValueError, match="labels still changing"):
        D.connected_components(chain, max_iter=3)


def _raise_sssp(spark, monkeypatch):
    # 1 <-> 2 is a negative-weight cycle: every round improves it
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, -1.0), (2, 1, -1.0)], "src bigint, dst bigint, w double"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        G.sssp_bounded(
            e, spark.createDataFrame([(0,)], "node bigint"), max_dist=10.0,
            max_iter=4,
        )


def _raise_resolve_tree(spark, monkeypatch):
    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "child bigint, parent bigint")
    with pytest.raises(ValueError, match="cycle"):
        H.resolve_tree(cyc, max_rounds=4)


def _raise_kmeans(spark, monkeypatch):
    with pytest.raises(ValueError, match="unknown method"):
        KM.kmeans_fit(_vecs(spark), "id", "vec", 3, method="bogus")


_RAISE_CASES = {
    "connected_components": _raise_cc,
    "sssp_bounded": _raise_sssp,
    "resolve_tree": _raise_resolve_tree,
    "dbscan_2d": _raise_dbscan,
    "kmeans_fit_bad_method": _raise_kmeans,
}


@pytest.mark.parametrize("op", list(_RAISE_CASES))
def test_raise_leaves_no_cache(spark, monkeypatch, op):
    """An operator that raises releases its caches too."""
    spark.catalog.clearCache()
    _RAISE_CASES[op](spark, monkeypatch)
    assert _cache_manager_empty(spark), f"{op}: cache residue after raise"


# (module, qualified function) sites whose persist() the CALLER owns:
# the cached table is part of what the function returns.
_CALLER_OWNED = {
    ("dedup.py", "minhash_index"),
    ("simsearch.py", "ivf_build"),
    ("simsearch.py", "IVFIndex.unpersist"),
    ("text.py", "decontaminate"),
}


def _cache_calls(path: str):
    """(qualname, line) of every .persist()/.unpersist()/.cache() call."""
    found = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                visit(child, scope + [child.name])
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("persist", "unpersist", "cache")
            ):
                found.append((".".join(scope), child.lineno))
            visit(child, scope)

    with open(path) as f:
        visit(ast.parse(f.read()), [])
    return found


def test_operator_caches_only_via_cache_scope():
    """No operator pairs persist()/unpersist() by hand: internal caches
    go through ``cache_scope`` (released on every exit path), and the
    only direct calls are the named caller-owned sites."""
    import h2h_spark.operators as ops

    allowed_seen = set()
    stray = []
    for path in sorted(glob.glob(os.path.join(os.path.dirname(ops.__file__), "*.py"))):
        mod = os.path.basename(path)
        for qual, line in _cache_calls(path):
            if mod == "__init__.py" and qual.split(".")[0] == "cache_scope":
                continue
            if (mod, qual) in _CALLER_OWNED:
                allowed_seen.add((mod, qual))
            else:
                stray.append(f"{mod}:{line} in {qual or '<module>'}")
    assert not stray, "hand-paired caches outside cache_scope: " + ", ".join(stray)
    # a stale allowlist entry would silently re-open the door
    assert allowed_seen == _CALLER_OWNED


def test_pq_inrow_size_guard_fallback(spark):
    """Oversize codebooks take the broadcast-join fallback and produce
    the identical rows as the literal-SQL in-row path."""
    import h2h_spark.operators.pq as pq

    df = spark.createDataFrame(
        [(i, [float((i * 3 + j) % 7) for j in range(8)]) for i in range(20)],
        "id bigint, vec array<double>",
    )
    books = {
        (j, c): [float((j + c + d) % 5) for d in range(4)]
        for j in range(2) for c in range(4)
    }
    cents = [(0, [0.0] * 8), (1, [3.0] * 8)]

    def rows(d):
        return sorted(tuple(r) for r in d.collect())

    inrow_assign = rows(pq.pq_assign_inrow(df, "id", "vec", books, m=2, dim=8))
    inrow_rec = rows(
        pq.pq_reconstruct_inrow(df, "id", "vec", books, m=2, dim=8)
    )
    inrow_enc = rows(
        pq.pq_encode_assign_inrow(df, "id", "vec", books, cents, m=2, dim=8)
    )
    old_cap = pq._INROW_MAX_LITERALS
    pq._INROW_MAX_LITERALS = 1  # force every call onto the fallback
    try:
        fb_assign = rows(pq.pq_assign_inrow(df, "id", "vec", books, m=2, dim=8))
        fb_rec = rows(
            pq.pq_reconstruct_inrow(df, "id", "vec", books, m=2, dim=8)
        )
        fb_enc = rows(
            pq.pq_encode_assign_inrow(df, "id", "vec", books, cents, m=2, dim=8)
        )
        fb_sv = pq.pq_assign_inrow(
            df, "id", "vec", books, m=2, dim=8, with_sv=True
        )
        assert fb_sv.columns == ["id", "j", "code", "dist_sq", "sv"]
        assert fb_sv.count() == 40
    finally:
        pq._INROW_MAX_LITERALS = old_cap
    assert fb_assign == inrow_assign
    assert fb_rec == inrow_rec
    assert fb_enc == inrow_enc


def test_scale_out_guard(spark):
    from h2h_spark.operators import scale_out

    df = spark.createDataFrame([(i, f"t{i}") for i in range(100)],
                               "id bigint, text string")
    par = spark.sparkContext.defaultParallelism
    small = df.coalesce(1)
    assert scale_out(small, "id").rdd.getNumPartitions() == par
    # round-robin form
    assert scale_out(small, None).rdd.getNumPartitions() == par
    # already-wide input passes through untouched (no extra Exchange)
    wide = df.repartition(par + 4)
    assert scale_out(wide, "id") is wide


def test_deltalog_guard_all_columns(spark, tmp_path):
    """Covered in test_deltalog.py::test_loud_failures (size-only and
    stats-only reads of a corrupt log raise) — this is a pointer test
    so round-14's change set is visible from its own test module."""
    import os

    from h2h_spark.operators.deltalog import read_log, write_commit

    tbl = str(tmp_path / "tbl")
    os.makedirs(os.path.join(tbl, "_log"))
    write_commit(tbl, 0, [{"add": {"path": "p0", "size": 1,
                                   "numRecords": 1, "minKey": 0,
                                   "maxKey": 0}}])
    with open(os.path.join(tbl, "_log", "0000000001.json"), "w") as f:
        f.write('{"bogus": 1}\n')
    with pytest.raises(Exception, match="malformed"):
        read_log(spark, tbl).select("num_records").collect()
