"""Similarity-search operators: brute-force exactness, LSH and IVF recall
vs the brute-force baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arc_spark.operators.similarity import IVFIndex, cosine_topk, ivf_topk, lsh_topk

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def qvec(emb):
    return list(emb.filter(F.col("vec_id") == 0).first()["embedding"])


@pytest.fixture(scope="module")
def brute_ids(emb, qvec):
    rows = cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10).collect()
    assert len(rows) == 10
    # descending similarity
    sims = [r["cosine_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    return [r["vec_id"] for r in rows]


def test_lsh_recall_vs_brute(emb, qvec, brute_ids):
    got = [r["vec_id"] for r in lsh_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)
           .collect()]
    # approximate: require decent overlap with the exact top-10
    assert len(set(got) & set(brute_ids)) >= 5


def test_ivf_recall_vs_brute(emb, qvec, brute_ids):
    got = [r["vec_id"] for r in ivf_topk(
        emb.filter(F.col("vec_id") != 0), qvec, k=10, n_clusters=8, nprobe=3
    ).collect()]
    assert len(set(got) & set(brute_ids)) >= 6


def test_ivf_index_reuse_and_pruning(emb, qvec):
    index = IVFIndex.build(emb, k=8)
    # probing all clusters == brute force exactly
    all_probe = [r["vec_id"] for r in index.topk(qvec, k=10, nprobe=8).collect()]
    brute = [r["vec_id"] for r in cosine_topk(emb, qvec, k=10).collect()]
    assert all_probe == brute
    # fewer probes scan fewer candidates
    n_probe1 = index.assigned.filter(F.col("_cluster") == 0).count()
    assert 0 < n_probe1 < emb.count()


def test_ivf_pruned_probe_matches_numpy_replication(emb, qvec):
    """nprobe < k prunes the scan, and the Spark result equals a full
    numpy replication of the same deterministic pipeline (hash-sample
    Lloyd fit → centroid assignment → probe → cosine top-k) — pinning
    that the distributed assignment/pruning path computes exactly what
    the algorithm specifies, independent of parallelism."""
    import numpy as np

    from arc_spark.operators.similarity import _lloyd_kmeans

    base = emb.filter(F.col("vec_id") != 0)
    index = IVFIndex.build(base, k=8)
    nprobe = 2
    got = [r["vec_id"] for r in index.topk(qvec, k=10, nprobe=nprobe).collect()]

    rows = sorted(base.select("vec_id", "embedding").collect(), key=lambda r: r[0])
    ids = np.array([r[0] for r in rows])
    V = np.array([list(map(float, r[1])) for r in rows], dtype=np.float64)
    C = _lloyd_kmeans(V, 8, 42)
    assign = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    q = np.array(qvec, dtype=np.float64)
    probe = np.argsort(((q - C) ** 2).sum(axis=1))[:nprobe]
    mask = np.isin(assign, probe)
    assert 0 < mask.sum() < len(ids)  # genuinely pruned
    sims = (V[mask] @ q) / (np.linalg.norm(V[mask], axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids[mask], -sims))
    expected = ids[mask][order[:10]].tolist()
    assert got == expected


def test_lsh_indexed_scan_prunes_partitions(spark, emb, qvec, tmp_path):
    """add_lsh_buckets + write partitioned by a band key: queries against
    the stored index filter on precomputed columns instead of re-projecting
    every row, and a per-band lookup prunes at the file-listing level (the
    multi-table LSH layout: one partitioned table per band)."""
    from arc_spark.operators.similarity import (
        _hyperplanes,
        _query_band_keys,
        add_lsh_buckets,
    )

    indexed = add_lsh_buckets(emb, num_planes=16, bands=8)
    path = str(tmp_path / "lsh_index")
    indexed.write.partitionBy("_lsh0").parquet(path)
    stored = spark.read.parquet(path)
    # full multi-band query on stored keys equals the unindexed variant
    got = lsh_topk(stored, qvec, k=10, bands=8, bucket_prefix="_lsh")
    base = lsh_topk(emb, qvec, k=10, bands=8)
    assert [r["vec_id"] for r in got.collect()] == [r["vec_id"] for r in base.collect()]
    # a single-band lookup (the per-band-table layout) prunes the scan
    planes = _hyperplanes(len(qvec), 16, 42)
    k0 = _query_band_keys(qvec, planes, 8, 2)[0]
    band0 = stored.filter(F.col("_lsh0") == k0)
    plan = band0._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "_lsh0" in plan.split("PartitionFilters", 1)[1][:250]
    assert 0 < band0.count() < stored.count()


def test_ivf_write_index_prunes_partitions(spark, emb, qvec, tmp_path):
    index = IVFIndex.build(emb, k=8)
    path = str(tmp_path / "ivf_index")
    index.write_index(path)
    stored = spark.read.parquet(path)
    probe = index.probe_clusters(qvec, nprobe=2)
    pruned = stored.filter(F.col("_cluster").isin(probe))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "_cluster" in plan.split("PartitionFilters", 1)[1][:200]
    assert 0 < pruned.count() < stored.count()


def test_ivf_quantizer_sample_is_bounded(spark):
    """The default quantizer fit must never collect the full table: with
    max_sample_rows below the table size, the driver-side sample is capped
    (and the index still answers queries)."""
    import numpy as np

    rng = np.random.RandomState(7)
    n = 5000
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    idx = IVFIndex.build(df, k=4, max_sample_rows=500)
    assert idx.sample_mod >= 10
    # hash-sampling is Bernoulli per row: allow slack around the target
    assert 0 < idx.sample_size <= 1000
    assert idx.topk(rows[0][1], k=5).count() == 5


def test_ivf_explicit_sample_mod_still_honored(spark):
    import numpy as np

    rng = np.random.RandomState(8)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    idx = IVFIndex.build(df, k=2, sample_mod=1)
    assert idx.sample_size == 200


def test_lsh_index_class_matches_unindexed_and_prunes(spark, emb, qvec, tmp_path):
    """LshIndex (multi-table layout) returns the same top-k as the
    scan-based lsh_topk at the same config, and each band read is a
    partition-pruned scan."""
    from arc_spark.operators.similarity import LshIndex

    path = str(tmp_path / "lsh_idx")
    LshIndex.build_and_write(emb, path, num_planes=16, bands=8)
    idx = LshIndex.load(spark, path)
    got = idx.topk(spark, qvec, k=10)
    base = lsh_topk(emb, qvec, k=10, num_planes=16, bands=8)
    assert [r["vec_id"] for r in got.collect()] == [r["vec_id"] for r in base.collect()]
    from pyspark.sql import functions as F2
    band0 = spark.read.parquet(f"{path}/band=0").filter(F2.col("_bucket") == 1)
    plan = band0._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_bucket" in plan.split("PartitionFilters", 1)[1][:250]


def test_cosine_topk_batch_agrees_with_single_query(spark, emb, qvec, brute_ids):
    from arc_spark.operators.similarity import cosine_topk_batch

    import pytest as _pytest
    from pyspark.sql import functions as F2

    corpus = emb.filter(F2.col("vec_id") != 0)
    out = cosine_topk_batch(corpus, [(0, qvec)], k=10)
    rows = out.orderBy("rank").collect()
    assert [r["vec_id"] for r in rows] == brute_ids
    assert [r["rank"] for r in rows] == list(range(1, 11))
    with _pytest.raises(ValueError, match="max_queries"):
        cosine_topk_batch(corpus, [(i, qvec) for i in range(11)], k=2, max_queries=10)


def test_ann_index_stages_end_to_end(spark, emb, qvec, brute_ids, tmp_path):
    """Declarative ANN: ANNIndexLoad builds the per-band index,
    ANNQueryExtract serves top-k from it; recall-1 config matches brute."""
    from arc_spark.pipeline import run_config

    emb.createOrReplaceTempView("ann_emb")
    emb.filter(F.col("vec_id") == 0).createOrReplaceTempView("ann_query")
    path = str(tmp_path / "ann_stage_idx")
    cfg = {"stages": [
        {"type": "SQLTransform", "name": "corpus", "outputView": "ann_corpus",
         "sql": "SELECT * FROM ann_emb WHERE vec_id <> 0"},
        {"type": "ANNIndexLoad", "name": "build", "inputView": "ann_corpus",
         "outputURI": path, "numPlanes": 16, "bands": 8},
        {"type": "ANNQueryExtract", "name": "q", "inputURI": path,
         "outputView": "ann_hits", "queryView": "ann_query", "k": 10},
    ]}
    df, _ = run_config(spark, cfg)
    assert [r["vec_id"] for r in df.orderBy(F.col("cosine_sim").desc(), "vec_id").collect()] == brute_ids
    # schema stability: a queryView ALWAYS yields the batch shape, even
    # with one row — downstream consumers of query_id/rank must not break
    # when the view shrinks to a single query
    assert {"query_id", "rank"} <= set(df.columns)


def test_lsh_index_multi_probe_recall(spark, emb, qvec, brute_ids, tmp_path):
    """probe_bits=1 candidate set is a superset of the exact-bucket set
    and lifts recall on a deliberately low-recall config (few bands)."""
    from arc_spark.operators.similarity import LshIndex

    path = str(tmp_path / "lsh_probe_idx")
    LshIndex.build_and_write(
        emb.filter(F.col("vec_id") != 0), path, num_planes=16, bands=2
    )
    idx = LshIndex.load(spark, path)
    exact = [r["vec_id"] for r in idx.topk(spark, qvec, k=10).collect()]
    probed = [r["vec_id"] for r in idx.topk(spark, qvec, k=10, probe_bits=1).collect()]
    r_exact = len(set(exact) & set(brute_ids))
    r_probe = len(set(probed) & set(brute_ids))
    assert r_probe >= r_exact
    # structural guarantee: the probed candidate set strictly contains the
    # exact-bucket candidate set (flipping 0 bits is always probed too)
    from arc_spark.fs import join as fs_join
    from arc_spark.operators.similarity import _hyperplanes, _query_band_keys

    m = idx.meta
    planes = _hyperplanes(m["dim"], m["num_planes"], m["seed"])
    keys = _query_band_keys(qvec, planes, m["bands"], m["num_planes"] // m["bands"])
    b0 = spark.read.parquet(fs_join(path, "band=0"))
    exact_cand = {r["vec_id"] for r in b0.filter(F.col("_bucket") == keys[0]).collect()}
    probe_keys = [keys[0] ^ (1 << r) for r in range(m["num_planes"] // m["bands"])] + [keys[0]]
    probed_cand = {r["vec_id"] for r in b0.filter(F.col("_bucket").isin(probe_keys)).collect()}
    assert exact_cand < probed_cand


def test_lsh_topk_batch_matches_brute_and_prunes(spark, emb, tmp_path):
    """Batch retrieval through the persisted index: ONE partition-pruned
    scan answers the whole query set; at a recall-1 config (32 planes /
    16 bands, verified vs brute at sf0.001 & sf0.01) the result equals
    the exact batched KNN. The scan's predicate references ONLY the two
    partition columns — pruning happens at the file-listing level."""
    from arc_spark.operators.similarity import LshIndex, cosine_topk_batch

    qrows = emb.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    queries = [(r["vec_id"], list(r["embedding"])) for r in qrows]
    corpus = emb.filter(F.col("vec_id") >= 3)
    path = str(tmp_path / "lsh_batch_idx")
    idx = LshIndex.build_and_write(corpus, path, num_planes=32, bands=16)
    got = idx.topk_batch(spark, queries, k=10)
    brute = cosine_topk_batch(corpus, queries, k=10)
    g = [(r["query_id"], r["rank"], r["vec_id"]) for r in got.orderBy("query_id", "rank").collect()]
    b = [(r["query_id"], r["rank"], r["vec_id"]) for r in brute.orderBy("query_id", "rank").collect()]
    assert g == b and len(g) == 30
    plan = got._jdf.queryExecution().executedPlan().toString()
    # single index relation, partition-column-only predicate, broadcast probe
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan
    assert "band" in pf[1][:300] and "_bucket" in pf[1][:300]
    assert plan.count("InMemoryFileIndex") == 1  # ONE scan of the index
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan

    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_queries"):
        idx.topk_batch(spark, [(i, queries[0][1]) for i in range(4)], max_queries=3)


def test_ann_query_extract_multi_row_view(spark, emb, tmp_path):
    """ANNQueryExtract with a multi-row queryView routes to the batch
    path (query_id/rank in the output) and matches brute force."""
    from arc_spark.operators.similarity import cosine_topk_batch
    from arc_spark.pipeline import run_config

    emb.createOrReplaceTempView("annb_emb")
    emb.filter(F.col("vec_id") < 3).createOrReplaceTempView("annb_queries")
    path = str(tmp_path / "annb_idx")
    cfg = {"stages": [
        {"type": "SQLTransform", "name": "corpus", "outputView": "annb_corpus",
         "sql": "SELECT * FROM annb_emb WHERE vec_id >= 3"},
        {"type": "ANNIndexLoad", "name": "build", "inputView": "annb_corpus",
         "outputURI": path, "numPlanes": 32, "bands": 16},
        {"type": "ANNQueryExtract", "name": "q", "inputURI": path,
         "outputView": "annb_hits", "queryView": "annb_queries", "k": 5},
    ]}
    df, _ = run_config(spark, cfg)
    corpus = emb.filter(F.col("vec_id") >= 3)
    qrows = emb.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    brute = cosine_topk_batch(corpus, [(r["vec_id"], list(r["embedding"])) for r in qrows], k=5)
    g = [(r["query_id"], r["rank"], r["vec_id"]) for r in df.orderBy("query_id", "rank").collect()]
    b = [(r["query_id"], r["rank"], r["vec_id"]) for r in brute.orderBy("query_id", "rank").collect()]
    assert g == b and len(g) == 15


def test_embedding_near_dup_default_cap_guards_degenerate_bucket(spark):
    """The cap now defaults ON (like minhash/simhash): a planted clique
    of identical vectors larger than the cap is dropped (with a logged
    warning) instead of going quadratic; an explicit None uncaps."""
    import numpy as np

    from arc_spark.operators.similarity import embedding_near_dup

    rng = np.random.RandomState(3)
    v = [float(x) for x in rng.randn(8)]
    clique = [(i, v) for i in range(30)]  # identical → one bucket per band
    others = [(100 + i, [float(x) for x in rng.randn(8)]) for i in range(20)]
    df = spark.createDataFrame(
        clique + others, "vec_id: long, embedding: array<double>"
    )
    capped = embedding_near_dup(
        df, threshold=0.99, num_planes=16, bands=4, max_bucket_size=10
    )
    uncapped = embedding_near_dup(
        df, threshold=0.99, num_planes=16, bands=4, max_bucket_size=None
    )
    assert uncapped.count() == 30 * 29 // 2
    assert capped.count() == 0  # every band bucket holds the 30-clique > 10
    # default invocation is capped (sentinel resolves to the shared default)
    import inspect

    from arc_spark.operators import similarity as S
    sig = inspect.signature(embedding_near_dup)
    assert sig.parameters["max_bucket_size"].default == S._USE_DEFAULT_CAP


def test_near_dup_transform_embedding_method(spark, emb):
    """method: embedding in the declarative stage — same pairs as the
    library call with the same config."""
    from arc_spark.operators.similarity import embedding_near_dup
    from arc_spark.pipeline import run_config

    emb.createOrReplaceTempView("nd_emb")
    cfg = {"stages": [
        {"type": "NearDupTransform", "name": "nd", "inputView": "nd_emb",
         "outputView": "nd_pairs", "method": "embedding",
         "threshold": 0.5, "numPlanes": 32, "bands": 16},
    ]}
    df, _ = run_config(spark, cfg)
    lib = embedding_near_dup(emb, threshold=0.5, num_planes=32, bands=16)
    got = {(r["id_a"], r["id_b"]) for r in df.collect()}
    want = {(r["id_a"], r["id_b"]) for r in lib.collect()}
    assert got == want and len(got) > 0


def test_ivf_index_load_round_trip(spark, emb, qvec, tmp_path):
    """write_index → load serves identical answers with NO quantizer
    refit (centers come from the meta object), and the loaded index's
    probe filter still partition-prunes."""
    from arc_spark.operators.similarity import IVFIndex

    base = emb.filter(F.col("vec_id") != 0)
    built = IVFIndex.build(base, k=8)
    path = str(tmp_path / "ivf_rt")
    built.write_index(path)
    loaded = IVFIndex.load(spark, path)
    assert loaded.centers == built.centers
    for nprobe in (2, 8):
        got = [r["vec_id"] for r in loaded.topk(qvec, k=10, nprobe=nprobe).collect()]
        want = [r["vec_id"] for r in built.topk(qvec, k=10, nprobe=nprobe).collect()]
        assert got == want
    pruned = loaded.topk(qvec, k=10, nprobe=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "_cluster" in plan.split("PartitionFilters", 1)[1][:200]


def test_ivf_topk_batch_matches_brute_at_full_probe(spark, emb, tmp_path):
    """Batch IVF retrieval: nprobe = n_clusters probes everything, so the
    batched window top-k must equal exact brute force; the scan predicate
    is partition-column-only."""
    from arc_spark.operators.similarity import IVFIndex, cosine_topk_batch

    qrows = emb.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    queries = [(r["vec_id"], list(r["embedding"])) for r in qrows]
    corpus = emb.filter(F.col("vec_id") >= 3)
    path = str(tmp_path / "ivf_batch")
    IVFIndex.build(corpus, k=8).write_index(path)
    idx = IVFIndex.load(spark, path)
    got = idx.topk_batch(spark, queries, k=10, nprobe=8)
    brute = cosine_topk_batch(corpus, queries, k=10)
    g = [(r["query_id"], r["rank"], r["vec_id"]) for r in got.orderBy("query_id", "rank").collect()]
    b = [(r["query_id"], r["rank"], r["vec_id"]) for r in brute.orderBy("query_id", "rank").collect()]
    assert g == b and len(g) == 30


def test_ann_stages_ivf_method_auto_detect(spark, emb, tmp_path):
    """ANNIndexLoad method=ivf + ANNQueryExtract auto-detecting the index
    kind from its meta object; multi-row view → batch output."""
    from arc_spark.operators.similarity import cosine_topk_batch
    from arc_spark.pipeline import run_config

    emb.createOrReplaceTempView("ivf_emb")
    emb.filter(F.col("vec_id") < 2).createOrReplaceTempView("ivf_queries")
    path = str(tmp_path / "ivf_stage_idx")
    cfg = {"stages": [
        {"type": "SQLTransform", "name": "corpus", "outputView": "ivf_corpus",
         "sql": "SELECT * FROM ivf_emb WHERE vec_id >= 2"},
        {"type": "ANNIndexLoad", "name": "build", "inputView": "ivf_corpus",
         "outputURI": path, "method": "ivf", "numClusters": 8},
        {"type": "ANNQueryExtract", "name": "q", "inputURI": path,
         "outputView": "ivf_hits", "queryView": "ivf_queries", "k": 5,
         "nprobe": 8},
    ]}
    df, _ = run_config(spark, cfg)
    corpus = emb.filter(F.col("vec_id") >= 2)
    qrows = emb.filter(F.col("vec_id") < 2).orderBy("vec_id").collect()
    brute = cosine_topk_batch(corpus, [(r["vec_id"], list(r["embedding"])) for r in qrows], k=5)
    g = [(r["query_id"], r["rank"], r["vec_id"]) for r in df.orderBy("query_id", "rank").collect()]
    b = [(r["query_id"], r["rank"], r["vec_id"]) for r in brute.orderBy("query_id", "rank").collect()]
    assert g == b and len(g) == 10


def test_lsh_index_incremental_maintenance(spark, tmp_path):
    """Index built at lake version N + apply_changes(changes_since(N))
    answers EXACTLY like a full rebuild on the new state: deletes vanish,
    updated vectors re-bucket, inserts appear — no corpus re-scan."""
    import numpy as np

    from arc_spark.lake.table import LakeTable
    from arc_spark.operators.similarity import LshIndex

    rng = np.random.RandomState(17)
    n = 200

    def mk(i, seq, shift=0.0):
        rs = np.random.RandomState(i)
        return (i, [float(x + shift) for x in rs.randn(16)], seq)

    t = LakeTable(str(tmp_path / "vec_lake"))
    df0 = spark.createDataFrame(
        [mk(i, i) for i in range(n)],
        "vec_id: long, embedding: array<double>, seq: long",
    )
    t.create(df0.schema, ["vec_id"], num_buckets=8)
    t.merge(spark, df0.withColumn("op", F.lit("upsert")), epoch=0,
            start_seq=0, end_seq=n - 1)
    since = t.snapshot().end_seq

    path = str(tmp_path / "inc_idx")
    idx = LshIndex.build_and_write(t.read(spark), path, num_planes=32, bands=16)

    # delta: update 10 (shifted vectors), delete 10, insert 10 new
    upd = [mk(i, n + j, shift=3.0) for j, i in enumerate(range(0, 10))]
    ins = [mk(i, n + 20 + j) for j, i in enumerate(range(n, n + 10))]
    dele = [(i, None, n + 10 + j) for j, i in enumerate(range(10, 20))]
    delta = spark.createDataFrame(
        [(*r, "upsert") for r in upd + ins] + [(*r, "delete") for r in dele],
        "vec_id: long, embedding: array<double>, seq: long, op: string",
    )
    t.merge(spark, delta, epoch=1, start_seq=n, end_seq=n + 29)

    changes = t.changes_since(spark, since)
    stats = idx.apply_changes(spark, changes)
    assert stats == {"generation": 1, "upserts": 20, "deletes": 10}

    rebuilt = LshIndex.build_and_write(
        t.read(spark), str(tmp_path / "rebuilt_idx"), num_planes=32, bands=16
    )
    qvecs = [mk(5, 0, shift=3.0)[1], mk(205, 0)[1], mk(15, 0)[1], mk(77, 0)[1]]
    for qv in qvecs:
        got = [(r["vec_id"], round(r["cosine_sim"], 9))
               for r in idx.topk(spark, qv, k=10).collect()]
        want = [(r["vec_id"], round(r["cosine_sim"], 9))
                for r in rebuilt.topk(spark, qv, k=10).collect()]
        assert got == want
    # batch path agrees too, and deleted ids never surface
    queries = [(j, qv) for j, qv in enumerate(qvecs)]
    gb = idx.topk_batch(spark, queries, k=10)
    wb = rebuilt.topk_batch(spark, queries, k=10)
    g = [(r["query_id"], r["rank"], r["vec_id"]) for r in gb.orderBy("query_id", "rank").collect()]
    w = [(r["query_id"], r["rank"], r["vec_id"]) for r in wb.orderBy("query_id", "rank").collect()]
    assert g == w
    assert not {r["vec_id"] for r in gb.collect()} & set(range(10, 20))
    # reload from disk picks up the new generation
    re = LshIndex.load(spark, path)
    assert re.meta["gen"] == 1


def test_lsh_multi_probe_recall_monotone(spark, tmp_path):
    """Seeded corpus pin: recall@10 vs the brute oracle is monotone
    non-decreasing in probe_bits for every query, strictly increasing in
    total — the query-time recall knob genuinely buys recall (measured
    [1,3,6] / [4,8,10] / [0,3,5] at probe_bits 0/1/2 on this corpus)."""
    import numpy as np

    from arc_spark.operators.similarity import LshIndex

    n, dim = 2000, 16
    rows = [(i, [float(x) for x in np.random.RandomState(1000 + i).randn(dim)])
            for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    idx = LshIndex.build_and_write(
        df, str(tmp_path / "probe_idx"), num_planes=16, bands=2
    )
    totals = [0, 0, 0]
    for qseed in (1, 2, 3):
        qv = [float(x) for x in np.random.RandomState(qseed).randn(dim)]
        brute = {r["vec_id"] for r in cosine_topk(df, qv, k=10).collect()}
        recalls = [
            len({r["vec_id"] for r in
                 idx.topk(spark, qv, k=10, probe_bits=pb).collect()} & brute)
            for pb in (0, 1, 2)
        ]
        assert recalls == sorted(recalls), (qseed, recalls)
        totals = [t + r for t, r in zip(totals, recalls)]
    assert totals[0] < totals[1] < totals[2], totals


def test_ann_index_maintain_stage_resumable(spark, tmp_path):
    """CDC→serving loop as config: index built at the lake's end_seq,
    table advances, ANNIndexMaintain catches the index up (queries match
    a rebuild); a second run is an up_to_date no-op."""
    import numpy as np

    from arc_spark.lake.table import LakeTable
    from arc_spark.operators.similarity import LshIndex
    from arc_spark.pipeline import run_config

    def vec(i, shift=0.0):
        rs = np.random.RandomState(i)
        return [float(x + shift) for x in rs.randn(16)]

    t = LakeTable(str(tmp_path / "m_lake"))
    n = 100
    df0 = spark.createDataFrame(
        [(i, vec(i), i) for i in range(n)],
        "vec_id: long, embedding: array<double>, seq: long",
    )
    t.create(df0.schema, ["vec_id"], num_buckets=4)
    t.merge(spark, df0.withColumn("op", F.lit("upsert")), epoch=0,
            start_seq=0, end_seq=n - 1)
    path = str(tmp_path / "m_idx")
    LshIndex.build_and_write(
        t.read(spark), path, num_planes=32, bands=16,
        last_seq=t.snapshot().end_seq,
    )
    delta = spark.createDataFrame(
        [(0, vec(0, 5.0), n, "upsert"), (1, None, n + 1, "delete"),
         (200, vec(200), n + 2, "upsert")],
        "vec_id: long, embedding: array<double>, seq: long, op: string",
    )
    t.merge(spark, delta, epoch=1, start_seq=n, end_seq=n + 2)

    cfg = {"stages": [
        {"type": "ANNIndexMaintain", "name": "sync", "inputURI": path,
         "tableURI": t.root, "outputView": "sync_out"},
    ]}
    df, _ = run_config(spark, cfg)
    row = df.first()
    assert row["status"] == "applied" and row["last_seq"] == n + 2
    assert row["upserts"] == 2 and row["deletes"] == 1

    idx = LshIndex.load(spark, path)
    rebuilt = LshIndex.build_and_write(
        t.read(spark), str(tmp_path / "m_rebuilt"), num_planes=32, bands=16
    )
    for q in (vec(0, 5.0), vec(200), vec(50)):
        got = [r["vec_id"] for r in idx.topk(spark, q, k=5).collect()]
        want = [r["vec_id"] for r in rebuilt.topk(spark, q, k=5).collect()]
        assert got == want
    # second run: no-op, cursor unchanged
    df2, _ = run_config(spark, cfg)
    assert df2.first()["status"] == "up_to_date"
    assert LshIndex.load(spark, path).meta["gen"] == 1


def test_lsh_index_compact_folds_tombstones(spark, tmp_path):
    """After deltas, compact() rewrites the live rows at gen 0 and clears
    the tombstone table; queries are unchanged and no longer pay the
    anti-filter join."""
    import numpy as np

    from arc_spark.fs import get_fs
    from arc_spark.operators.similarity import LshIndex

    def vec(i, shift=0.0):
        return [float(x + shift) for x in np.random.RandomState(i).randn(16)]

    rows = [(i, vec(i)) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    path = str(tmp_path / "cmp_idx")
    idx = LshIndex.build_and_write(df, path, num_planes=32, bands=16)
    changes = spark.createDataFrame(
        [(0, vec(0, 4.0), "upsert"), (1, None, "delete"), (200, vec(200), "upsert")],
        "vec_id: long, embedding: array<double>, op: string",
    )
    idx.apply_changes(spark, changes)
    q = vec(0, 4.0)
    before = [r["vec_id"] for r in idx.topk(spark, q, k=8).collect()]
    res = idx.compact(spark)
    assert res == {"status": "compacted", "gen": 0}
    fs = get_fs(path, spark)
    assert not fs.exists(f"{path}/{LshIndex.TOMBSTONES}")
    reloaded = LshIndex.load(spark, path)
    assert reloaded.meta["gen"] == 0
    after = [r["vec_id"] for r in reloaded.topk(spark, q, k=8).collect()]
    assert after == before
    assert 1 not in after and 0 in after  # delete gone, upsert present
    # maintenance continues cleanly after compact
    more = spark.createDataFrame(
        [(2, None, "delete")], "vec_id: long, embedding: array<double>, op: string"
    )
    assert reloaded.apply_changes(spark, more)["generation"] == 1
    assert 2 not in [r["vec_id"] for r in reloaded.topk(spark, vec(2), k=8).collect()]


def test_ivf_incremental_maintenance_matches_rebuild_assignment(spark, tmp_path):
    """IVF apply_changes: deletes vanish, updates re-assign to the
    nearest EXISTING centroid, inserts appear — full-probe queries equal
    a fresh assignment over the new corpus with the SAME centers (the
    quantizer is frozen by design); ANNIndexMaintain drives it from a
    lake via the shared cursor."""
    import numpy as np

    from arc_spark.lake.table import LakeTable
    from arc_spark.operators.similarity import IVFIndex
    from arc_spark.pipeline import run_config

    def vec(i, shift=0.0):
        return [float(x + shift) for x in np.random.RandomState(i).randn(16)]

    n = 150
    t = LakeTable(str(tmp_path / "ivf_lake"))
    df0 = spark.createDataFrame(
        [(i, vec(i), i) for i in range(n)],
        "vec_id: long, embedding: array<double>, seq: long",
    )
    t.create(df0.schema, ["vec_id"], num_buckets=4)
    t.merge(spark, df0.withColumn("op", F.lit("upsert")), epoch=0,
            start_seq=0, end_seq=n - 1)
    path = str(tmp_path / "ivf_inc")
    built = IVFIndex.build(t.read(spark), k=8, seed=42)
    built.write_index(path, last_seq=t.snapshot().end_seq)

    delta = spark.createDataFrame(
        [(0, vec(0, 6.0), n, "upsert"), (1, None, n + 1, "delete"),
         (300, vec(300), n + 2, "upsert")],
        "vec_id: long, embedding: array<double>, seq: long, op: string",
    )
    t.merge(spark, delta, epoch=1, start_seq=n, end_seq=n + 2)

    cfg = {"stages": [
        {"type": "ANNIndexMaintain", "name": "sync", "inputURI": path,
         "tableURI": t.root, "outputView": "ivf_sync"},
    ]}
    df, _ = run_config(spark, cfg)
    row = df.first()
    assert row["status"] == "applied" and row["upserts"] == 2 and row["deletes"] == 1

    idx = IVFIndex.load(spark, path)
    assert idx.meta["gen"] == 1 and idx.meta["last_seq"] == n + 2
    # oracle: same centers, fresh assignment over the post-delta corpus
    fresh = IVFIndex(idx.centers, t.read(spark).withColumn(
        "_cluster",
        IVFIndex._assign_kernel(idx.centers)(F.col("embedding").cast("array<double>")),
    ), "embedding", "vec_id")
    for q in (vec(0, 6.0), vec(300), vec(42)):
        got = [r["vec_id"] for r in idx.topk(q, k=8, nprobe=8).collect()]
        want = [r["vec_id"] for r in fresh.topk(q, k=8, nprobe=8).collect()]
        assert got == want
    assert 1 not in [r["vec_id"] for r in idx.topk(vec(1), k=8, nprobe=8).collect()]
    # batch path respects tombstones too
    gb = idx.topk_batch(spark, [(0, vec(0, 6.0)), (1, vec(300))], k=8, nprobe=8)
    assert 1 not in {r["vec_id"] for r in gb.collect()}
    # second maintain run: no-op
    df2, _ = run_config(spark, cfg)
    assert df2.first()["status"] == "up_to_date"


def test_ivf_index_compact_folds_tombstones(spark, tmp_path):
    """IVFIndex.compact: same contract as LshIndex.compact — live rows
    rewritten at gen 0, tombstone table cleared, queries unchanged, and
    maintenance continues cleanly afterwards."""
    import numpy as np

    from arc_spark.fs import get_fs
    from arc_spark.operators.similarity import IVFIndex

    def vec(i, shift=0.0):
        return [float(x + shift) for x in np.random.RandomState(i).randn(16)]

    rows = [(i, vec(i)) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    path = str(tmp_path / "ivf_cmp")
    idx = IVFIndex.build(df, k=8, seed=7)
    idx.write_index(path)
    changes = spark.createDataFrame(
        [(0, vec(0, 5.0), "upsert"), (1, None, "delete"), (200, vec(200), "upsert")],
        "vec_id: long, embedding: array<double>, op: string",
    )
    idx.apply_changes(spark, changes)
    q = vec(0, 5.0)
    before = [r["vec_id"] for r in idx.topk(q, k=8, nprobe=8).collect()]
    res = idx.compact(spark)
    assert res == {"status": "compacted", "gen": 0}
    fs = get_fs(path, spark)
    assert not fs.exists(f"{path}/{IVFIndex.TOMBSTONES}")
    reloaded = IVFIndex.load(spark, path)
    assert reloaded.meta["gen"] == 0
    after = [r["vec_id"] for r in reloaded.topk(q, k=8, nprobe=8).collect()]
    assert after == before
    assert 1 not in after and 0 in after
    # the in-memory handle also serves correctly post-swap
    assert [r["vec_id"] for r in idx.topk(q, k=8, nprobe=8).collect()] == before
    # maintenance continues cleanly after compact
    more = spark.createDataFrame(
        [(2, None, "delete")], "vec_id: long, embedding: array<double>, op: string"
    )
    assert reloaded.apply_changes(spark, more)["generation"] == 1
    assert 2 not in [r["vec_id"] for r in reloaded.topk(vec(2), k=8, nprobe=8).collect()]


def test_ann_index_maintain_compacts_after_threshold(spark, tmp_path):
    """ANNIndexMaintain compactAfterGenerations: once the index has
    accumulated that many delta generations, the stage folds them into a
    clean gen-0 base in the same run — queries unchanged, tombstones
    gone."""
    import numpy as np

    from arc_spark.fs import get_fs
    from arc_spark.lake.table import LakeTable
    from arc_spark.operators.similarity import LshIndex
    from arc_spark.pipeline import run_config

    def vec(i, shift=0.0):
        return [float(x + shift) for x in np.random.RandomState(i).randn(16)]

    n = 80
    t = LakeTable(str(tmp_path / "mc_lake"))
    df0 = spark.createDataFrame(
        [(i, vec(i), i) for i in range(n)],
        "vec_id: long, embedding: array<double>, seq: long",
    )
    t.create(df0.schema, ["vec_id"], num_buckets=4)
    t.merge(spark, df0.withColumn("op", F.lit("upsert")), epoch=0,
            start_seq=0, end_seq=n - 1)
    path = str(tmp_path / "mc_idx")
    LshIndex.build_and_write(
        t.read(spark), path, num_planes=32, bands=16,
        last_seq=t.snapshot().end_seq,
    )
    delta = spark.createDataFrame(
        [(1, None, n, "delete")],
        "vec_id: long, embedding: array<double>, seq: long, op: string",
    )
    t.merge(spark, delta, epoch=1, start_seq=n, end_seq=n)
    cfg = {"stages": [
        {"type": "ANNIndexMaintain", "name": "sync", "inputURI": path,
         "tableURI": t.root, "compactAfterGenerations": 1,
         "outputView": "mc_sync"},
    ]}
    df, _ = run_config(spark, cfg)
    row = df.first()
    assert row["status"] == "applied" and row["generation"] == 0
    fs = get_fs(path, spark)
    assert not fs.exists(f"{path}/{LshIndex.TOMBSTONES}")
    idx = LshIndex.load(spark, path)
    assert idx.meta["gen"] == 0 and idx.meta["last_seq"] == n
    got = {r["vec_id"] for r in idx.topk(spark, vec(1), k=8).collect()}
    assert 1 not in got  # the delete survived the compact


def test_ann_index_sync_self_heals_after_rollback(spark, tmp_path):
    """A table rollback re-publishes the undone seq range with corrected
    vectors; an index synced past that range must NOT stay stale behind
    a plain seq cursor. The versioned cursor detects the rollback and
    re-applies the corrected range — apply_changes is idempotent, so the
    index self-heals to match a rebuild."""
    import numpy as np

    from arc_spark.lake.table import LakeTable
    from arc_spark.operators.similarity import LshIndex

    def vec(i, shift=0.0):
        return [float(x + shift) for x in np.random.RandomState(i).randn(16)]

    t = LakeTable(str(tmp_path / "rb_lake"))
    n = 60
    df0 = spark.createDataFrame(
        [(i, vec(i), i) for i in range(n)],
        "vec_id: long, embedding: array<double>, seq: long",
    )
    t.create(df0.schema, ["vec_id"], num_buckets=4)
    t.merge(spark, df0.withColumn("op", F.lit("upsert")), epoch=0,
            start_seq=0, end_seq=n - 1)
    v_good = t.current_version()
    path = str(tmp_path / "rb_idx")
    LshIndex.build_and_write(
        t.read(spark), path, num_planes=32, bands=16,
        last_seq=t.snapshot().end_seq,
    )

    # bad batch lands and the index syncs past it
    bad = spark.createDataFrame(
        [(0, vec(999), n, "upsert")],
        "vec_id: long, embedding: array<double>, seq: long, op: string",
    )
    t.merge(spark, bad, epoch=1, start_seq=n, end_seq=n)
    idx = LshIndex.load(spark, path)
    assert idx.sync_from_table(spark, t)["status"] == "applied"
    assert idx.meta["last_version"] == t.current_version()

    # operator rolls back and re-applies the corrected vector (same seq)
    t.rollback(v_good)
    fixed = spark.createDataFrame(
        [(0, vec(0, 2.0), n, "upsert")],
        "vec_id: long, embedding: array<double>, seq: long, op: string",
    )
    t.merge(spark, fixed, epoch=1, start_seq=n, end_seq=n)

    # plain seq comparison would say up_to_date (end_seq unchanged);
    # the rollback walk forces the re-apply instead
    res = LshIndex.load(spark, path).sync_from_table(spark, t)
    assert res["status"] == "applied"

    healed = LshIndex.load(spark, path)
    rebuilt = LshIndex.build_and_write(
        t.read(spark), str(tmp_path / "rb_rebuilt"), num_planes=32, bands=16
    )
    q = vec(0, 2.0)
    got = [r["vec_id"] for r in healed.topk(spark, q, k=5).collect()]
    want = [r["vec_id"] for r in rebuilt.topk(spark, q, k=5).collect()]
    assert got == want
    # and a further sync with nothing new is a clean no-op
    assert LshIndex.load(spark, path).sync_from_table(spark, t)["status"] == "up_to_date"


def _synth_vectors(spark, n, dim, salt):
    """Deterministic synthetic (id, embedding) rows, synthesized
    executor-side (murmur3 F.hash — fixed engine seed, reproducible):
    no driver-side vector materialization anywhere in the test."""
    cols = [
        ((F.hash(F.col("id"), F.lit(salt), F.lit(j)) % 1000) / 500.0 - 1.0).cast(
            "double"
        )
        for j in range(dim)
    ]
    return spark.range(n).select(
        F.col("id").alias("vec_id"), F.array(*cols).alias("embedding")
    )


def test_lsh_topk_batch_df_100k_queries_distributed(spark, tmp_path):
    """The fully distributed batch path (topk_batch_df) at a scale the
    driver-resident path hard-rejects: a 10^5-row query VIEW, no collect
    of vectors (the only driver materialization is the distinct
    (band,_bucket) int set), no query cap. Plan is pinned: the index
    scan carries a partition-column-only PartitionFilters predicate —
    pruning happens at the file-listing level."""
    from arc_spark.operators.similarity import LshIndex

    corpus = _synth_vectors(spark, 2_000, 8, salt=1)
    queries = _synth_vectors(spark, 100_000, 8, salt=2)
    path = str(tmp_path / "lsh_100k_idx")
    idx = LshIndex.build_and_write(corpus, path, num_planes=32, bands=4)

    got = idx.topk_batch_df(spark, queries, query_id_col="vec_id", k=3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan
    assert "band" in pf[1][:300] and "_bucket" in pf[1][:300]

    # one pass over the 10^5-query result answers both counts
    stats = got.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("query_id").alias("q")
    ).first()
    n_rows, n_queries = stats["n"], stats["q"]
    # hyperplane buckets at 2k corpus / 4 bands x 256 buckets leave a
    # handful of queries with zero candidates; ~all must be answered
    assert n_queries >= 99_000, n_queries
    assert n_rows >= 2 * n_queries  # most queries fill k=3

    # exactness spot-check vs the driver-resident path on 5 queries
    sample = queries.filter(F.col("vec_id") < 5).collect()
    qlist = [(r["vec_id"], list(r["embedding"])) for r in sample]
    want = idx.topk_batch(spark, qlist, k=3)
    w = [
        (r["query_id"], r["rank"], r["vec_id"])
        for r in want.orderBy("query_id", "rank").collect()
    ]
    g = [
        (r["query_id"], r["rank"], r["vec_id"])
        for r in got.filter(F.col("query_id") < 5)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert g == w and len(g) >= 10


def test_lsh_topk_batch_df_prune_cap_falls_back_to_join_only(spark, tmp_path):
    """Above max_prune_values the driver predicate is SKIPPED (O(1)
    driver) and the probe join alone filters — results identical."""
    from arc_spark.operators.similarity import LshIndex

    corpus = _synth_vectors(spark, 500, 8, salt=3)
    queries = _synth_vectors(spark, 50, 8, salt=4)
    path = str(tmp_path / "lsh_cap_idx")
    idx = LshIndex.build_and_write(corpus, path, num_planes=16, bands=4)

    pruned = idx.topk_batch_df(spark, queries, query_id_col="vec_id", k=3)
    capped = idx.topk_batch_df(
        spark, queries, query_id_col="vec_id", k=3, max_prune_values=1
    )
    assert "PartitionFilters: [" in pruned._jdf.queryExecution().executedPlan().toString()
    p = [tuple(r) for r in pruned.orderBy("query_id", "rank").collect()]
    c = [tuple(r) for r in capped.orderBy("query_id", "rank").collect()]
    assert p == c and len(p) > 0


def test_ivf_topk_batch_df_matches_driver_path_and_brute(spark, emb, tmp_path):
    """IVF distributed batch retrieval (query set stays a DataFrame): at
    nprobe = #centers (full probe = exact) it equals brute-force batched
    KNN; the only driver materialization is the distinct cluster set."""
    from arc_spark.operators.similarity import IVFIndex, cosine_topk_batch

    corpus = emb.filter(F.col("vec_id") >= 3)
    idx = IVFIndex.build(corpus, k=8, seed=1)
    path = str(tmp_path / "ivf_bdf")
    idx.write_index(path)
    loaded = IVFIndex.load(spark, path)

    queries = emb.filter(F.col("vec_id") < 3)
    got = loaded.topk_batch_df(
        spark, queries, query_id_col="vec_id", k=5, nprobe=8
    )
    g = [(r["query_id"], r["rank"], r["vec_id"])
         for r in got.orderBy("query_id", "rank").collect()]
    qrows = queries.orderBy("vec_id").collect()
    brute = cosine_topk_batch(
        corpus, [(r["vec_id"], list(r["embedding"])) for r in qrows], k=5
    )
    b = [(r["query_id"], r["rank"], r["vec_id"])
         for r in brute.orderBy("query_id", "rank").collect()]
    assert g == b and len(g) == 15

    # pruned probe (nprobe=2) agrees with the driver-resident batch path
    got2 = loaded.topk_batch_df(
        spark, queries, query_id_col="vec_id", k=5, nprobe=2
    )
    want2 = loaded.topk_batch(
        spark, [(r["vec_id"], list(r["embedding"])) for r in qrows],
        k=5, nprobe=2,
    )
    g2 = [(r["query_id"], r["rank"], r["vec_id"])
          for r in got2.orderBy("query_id", "rank").collect()]
    w2 = [(r["query_id"], r["rank"], r["vec_id"])
          for r in want2.orderBy("query_id", "rank").collect()]
    assert g2 == w2


def test_ann_query_extract_view_routes_ivf_distributed(spark, emb, tmp_path):
    """ANNQueryExtract + queryView over an IVF index goes through
    topk_batch_df (no driver cap) and matches brute at full probe."""
    from arc_spark.operators.similarity import cosine_topk_batch
    from arc_spark.pipeline import run_config

    emb.createOrReplaceTempView("ivfd_emb")
    emb.filter(F.col("vec_id") < 3).createOrReplaceTempView("ivfd_queries")
    path = str(tmp_path / "ivfd_idx")
    cfg = {"stages": [
        {"type": "SQLTransform", "name": "corpus", "outputView": "ivfd_corpus",
         "sql": "SELECT * FROM ivfd_emb WHERE vec_id >= 3"},
        {"type": "ANNIndexLoad", "name": "build", "inputView": "ivfd_corpus",
         "outputURI": path, "method": "ivf", "numClusters": 8},
        {"type": "ANNQueryExtract", "name": "q", "inputURI": path,
         "outputView": "ivfd_hits", "queryView": "ivfd_queries", "k": 5,
         "nprobe": 8},
    ]}
    df, _ = run_config(spark, cfg)
    corpus = emb.filter(F.col("vec_id") >= 3)
    qrows = emb.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    brute = cosine_topk_batch(
        corpus, [(r["vec_id"], list(r["embedding"])) for r in qrows], k=5
    )
    g = [(r["query_id"], r["rank"], r["vec_id"])
         for r in df.orderBy("query_id", "rank").collect()]
    b = [(r["query_id"], r["rank"], r["vec_id"])
         for r in brute.orderBy("query_id", "rank").collect()]
    assert g == b
