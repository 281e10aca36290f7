"""Golden/property tests for the probabilistic dedup + ANN operators
(SURVEY.md §5.2.2) — the ones DuckDB can't oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_bigdata_recsys_spark.functions.dedup import (
    dedup_exact,
    minhash_candidates,
    shingles,
    simhash_features,
)
from project_bigdata_recsys_spark.functions.similarity import (
    ivf_bucketed_knn,
    knn_brute_force,
    knn_lsh,
)
from tests.conftest import SF_SMALL


def test_dedup_exact_keeps_min_id(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma"), (7, "alpha beta")],
        "doc_id long, text string",
    )
    out = dedup_exact(docs).orderBy("doc_id").collect()
    assert [r.doc_id for r in out] == [1, 3]


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "text string")
    got = df.select(shingles(F.col("text"), 3).alias("s")).collect()
    assert got[0].s == []
    assert got[1].s == ["a b c", "b c d"]


def test_simhash_identical_and_different(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.simhash for r in simhash_features(df).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_ngram_jaccard_hot_shingle_cap(spark):
    """Hot-shingle df cap: a boilerplate shingle shared by every doc must
    not generate O(n²) pairs when capped; normal near-dup pairs survive,
    and on a corpus with no hot shingles the cap is a no-op."""
    from project_bigdata_recsys_spark.functions.dedup import ngram_jaccard_pairs_for

    boiler = "all rights reserved"  # one 3-gram shared by every doc
    near_a = "spark shuffle partition broadcast join aggregate"
    rows = [(0, f"{near_a} {boiler}"), (1, f"{near_a} extra {boiler}")] + [
        (i, " ".join(f"tok{i}_{j}" for j in range(8)) + f" {boiler}")
        for i in range(2, 40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs_for(docs, threshold=0.05, max_doc_freq=10)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    # the planted near-dup pair survives (shares discriminative shingles)
    assert (0, 1) in got
    # the 40-doc boilerplate clique (780 pairs) does not appear
    assert len(got) < 50

    uncapped = ngram_jaccard_pairs_for(docs, threshold=0.05, max_doc_freq=None)
    assert uncapped.count() > len(got)  # cap really pruned the hot shingle

    # no-op on a hot-shingle-free corpus: capped == uncapped exactly
    clean = spark.createDataFrame(rows[:2] + rows[2:10], "doc_id long, text string")
    clean = clean.withColumn("text", F.regexp_replace("text", boiler, ""))
    a = ngram_jaccard_pairs_for(clean, threshold=0.05, max_doc_freq=10).collect()
    b = ngram_jaccard_pairs_for(clean, threshold=0.05, max_doc_freq=None).collect()
    assert a == b


def test_simhash_band_key_cap(spark):
    """Degenerate band-key cap: docs engineered to share band keys en
    masse must not blow up pair generation when capped; identical-doc
    pairs (Hamming 0, all four bands agree) still found via the no-op
    path, and a hot-key-free corpus is unaffected by the cap."""
    from project_bigdata_recsys_spark.functions.dedup import simhash_near_pairs_for

    # 30 identical docs => every band key shared by all 30 (degenerate),
    # plus distinct docs that share no keys
    rows = [(i, "identical boilerplate text body here") for i in range(30)] + [
        (100 + i, " ".join(f"uniq{i}_{j}" for j in range(12))) for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = simhash_near_pairs_for(docs, max_band_key_docs=10)
    # every band key of the identical clique exceeds the cap => no pairs
    assert capped.count() == 0

    uncapped = simhash_near_pairs_for(docs, max_band_key_docs=None)
    assert uncapped.count() == 30 * 29 // 2  # full clique at Hamming 0

    clean = spark.createDataFrame(rows[30:], "doc_id long, text string")
    a = simhash_near_pairs_for(clean, max_band_key_docs=10).collect()
    b = simhash_near_pairs_for(clean, max_band_key_docs=None).collect()
    assert a == b


def test_minhash_finds_planted_near_dup(spark, tmp_path):
    # plant a near-duplicate pair in a small corpus and require LSH to find it
    base = "spark engine shuffle partition broadcast join aggregate filter window sort " * 3
    near = base + "extra token"
    rows = [(0, base), (1, near)] + [
        (i, f"doc {i} " + " ".join(f"tok{i}_{j}" for j in range(30))) for i in range(2, 30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = minhash_candidates(spark, str(tmp_path), jaccard_threshold=0.5)
    pairs = {(r.doc_a, r.doc_b) for r in got.collect()}
    assert (0, 1) in pairs


def test_lsh_knn_recall_vs_brute_force(spark):
    exact = [r.vec_id for r in knn_brute_force(spark, SF_SMALL, k=10).collect()]
    approx = [r.vec_id for r in knn_lsh(spark, SF_SMALL, k=10).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"LSH recall@10 too low: {recall}"


def test_rp_lsh_recall_and_true_cosines(spark):
    """Deterministic multi-table RP-LSH: decent recall vs brute force, and
    every returned cosine must equal the exact brute-force value (the
    rerank is exact; only candidate selection is approximate)."""
    from project_bigdata_recsys_spark.functions.similarity import knn_rp_lsh

    exact = {r.vec_id: r.cos_sim for r in knn_brute_force(spark, SF_SMALL, k=500).collect()}
    top10 = [r.vec_id for r in knn_brute_force(spark, SF_SMALL, k=10).collect()]
    approx = {r.vec_id: r.cos_sim for r in knn_rp_lsh(spark, SF_SMALL, k=10).collect()}
    recall = len(set(top10) & set(approx)) / 10
    assert recall >= 0.4, f"RP-LSH recall@10 too low: {recall}"
    for vid, sim in approx.items():
        assert abs(exact[vid] - sim) < 1e-6


def test_ivf_results_are_true_neighbors(spark):
    # every IVF result must carry the same cosine the brute-force path computes
    ivf = {r.vec_id: r.cos_sim for r in ivf_bucketed_knn(spark, SF_SMALL, k=5).collect()}
    brute = {r.vec_id: r.cos_sim for r in knn_brute_force(spark, SF_SMALL, k=500).collect()}
    for vid, sim in ivf.items():
        assert abs(brute[vid] - sim) < 1e-6


def test_connected_components_known_graph(spark):
    """CC on a known graph: {1-2, 2-3} ∪ {10-11} ∪ {20-21, 21-22, 22-23}
    must produce 3 components labeled by their min ids."""
    from project_bigdata_recsys_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.cluster_id for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_connected_components_chain_diameter(spark):
    """A long chain (worst-case diameter) still converges to one
    component within the iteration budget."""
    from project_bigdata_recsys_spark.functions.dedup import connected_components

    chain = [(i, i + 1) for i in range(30)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    comps = connected_components(pairs)
    assert comps.select("cluster_id").distinct().count() == 1
    assert comps.count() == 31


def test_near_dup_clusters_runs(spark):
    from project_bigdata_recsys_spark.functions.dedup import near_dup_clusters

    out = near_dup_clusters(spark, SF_SMALL)
    rows = out.collect()
    # every cluster has >= 2 members and canonical == cluster label
    assert all(r.cluster_size >= 2 and r.canonical_id == r.cluster_id for r in rows)


def test_chunk_documents_udtf(spark):
    """UDTF chunking: every doc covered, overlap = chunk - stride, chunk
    sizes within bounds, token accounting consistent."""
    from project_bigdata_recsys_spark.functions.text import chunk_documents

    out = chunk_documents(spark, SF_SMALL, chunk_tokens=50, stride=40)
    rows = {r.doc_id: r for r in out.collect()}
    docs = {
        r.doc_id: len(r.text.split())
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    }
    assert set(rows) == set(docs)
    for doc_id, n_tok in docs.items():
        r = rows[doc_id]
        assert r.max_chunk_tokens <= 50
        # total chunk tokens = n_tok + overlap double-counting
        if n_tok <= 50:
            assert r.n_chunks == 1 and r.total_chunk_tokens == n_tok
        else:
            overlap = 10 * (r.n_chunks - 1)
            assert r.total_chunk_tokens == n_tok + overlap


def test_chunk_rows_hof_matches_udtf(spark):
    """The JVM-side HOF chunk kernel and the declared UDTF surface must
    be row-identical (same chunk text, numbering and token counts)."""
    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.text import chunk_rows, chunk_rows_udtf

    docs = load_table(spark, SF_SMALL, "documents")
    hof = chunk_rows(docs).orderBy("doc_id", "chunk_no").collect()
    udtf = chunk_rows_udtf(spark, docs).orderBy("doc_id", "chunk_no").collect()
    assert [tuple(r) for r in hof] == [tuple(r) for r in udtf]
    assert len(hof) > 0


def test_chunkers_agree_on_pathological_whitespace(spark):
    """One tokenizer everywhere (round-5 unification): tab, newline and
    NBSP are NOT token separators — only the single space is, matching
    text.tokens() and every DuckDB oracle's string_split(text, ' ').
    Both chunk kernels must agree with that rule and with each other."""
    from project_bigdata_recsys_spark.functions.text import chunk_rows, chunk_rows_udtf

    weird = spark.createDataFrame(
        [
            (1, "a\tb c\nd e"),          # tab/newline glue tokens together
            (2, "x\u00a0y z"),          # NBSP is not a separator
            (3, "  leading  double  "),   # empty splits dropped
            (4, "\t\n"),                  # whitespace-only, no space
        ],
        "doc_id long, text string",
    )
    hof = chunk_rows(weird, chunk_tokens=2, stride=1).orderBy(
        "doc_id", "chunk_no"
    ).collect()
    udtf = chunk_rows_udtf(spark, weird, chunk_tokens=2, stride=1).orderBy(
        "doc_id", "chunk_no"
    ).collect()
    assert [tuple(r) for r in hof] == [tuple(r) for r in udtf]
    by_doc = {}
    for r in hof:
        by_doc.setdefault(r.doc_id, []).append(r)
    # "a\tb c\nd e" → single-space tokens: ["a\tb", "c\nd", "e"]
    assert sum(1 for r in by_doc[1]) == 2  # windows of 2 with stride 1
    assert by_doc[1][0].chunk == "a\tb c\nd"
    assert {r.n_tokens for r in by_doc[2]} == {2}  # ["x y", "z"]
    assert all(r.n_tokens <= 2 for r in by_doc[3])
    assert "" not in " ".join(r.chunk for r in by_doc[3]).split(" ")
    # doc 4 has one nonempty token "\t\n" under the single-space rule
    assert by_doc[4][0].n_tokens == 1


def test_persisted_ann_index_matches_inline_and_prunes(spark, tmp_path):
    """The persisted RP-LSH index (build once, probe via partition
    pruning) must return exactly the inline knn_rp_lsh result, and the
    probe's scan must carry (t, bucket) partition filters — the
    build-once/query-many scale path."""
    from project_bigdata_recsys_spark.functions.similarity import (
        build_ann_index,
        knn_rp_lsh,
        query_ann_index,
    )

    index_dir = str(tmp_path / "ann_index")
    build_ann_index(spark, SF_SMALL, index_dir)
    via_index = query_ann_index(spark, SF_SMALL, index_dir, query_vec_id=0, k=10)
    inline = knn_rp_lsh(spark, SF_SMALL, query_vec_id=0, k=10)
    assert [tuple(r) for r in via_index.collect()] == [
        tuple(r) for r in inline.collect()
    ]

    # partition pruning: the index scan must filter on the partition cols
    import os

    probe_plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in probe_plan
    # and the index layout on disk is (t, bucket) directories
    t_dirs = [d for d in os.listdir(index_dir) if d.startswith("t=")]
    assert len(t_dirs) == 4


def test_ivf_centroid_results_are_true_cosines(spark):
    """Sampled-centroid IVF: every returned similarity equals the exact
    brute-force cosine for that id (approximation is in WHICH candidates
    are probed, never the values), and overlap with the true top-10 is
    nonzero with 2-of-8 probes."""
    from project_bigdata_recsys_spark.functions.similarity import (
        ivf_centroid_knn,
        knn_brute_force,
    )

    exact = {r.vec_id: r.cos_sim for r in knn_brute_force(spark, SF_SMALL, k=100).collect()}
    approx = ivf_centroid_knn(spark, SF_SMALL, query_vec_id=0, k=10).collect()
    assert 0 < len(approx) <= 10
    for r in approx:
        if r.vec_id in exact:
            assert abs(r.cos_sim - exact[r.vec_id]) < 1e-6
    top10 = {r.vec_id for r in knn_brute_force(spark, SF_SMALL, k=10).collect()}
    assert len(top10 & {r.vec_id for r in approx}) >= 1


def test_embedding_lsh_pairs_subset_of_exact(spark):
    """The LSH-banded pair set must be a strict subset of the exact
    all-pairs result with identical cosines (precision exact, recall
    bounded by bucket collisions) and nonzero recall at test scale."""
    from project_bigdata_recsys_spark.functions.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
    )

    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_near_dup_pairs(spark, SF_SMALL).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_near_dup_pairs_lsh(spark, SF_SMALL).collect()
    }
    assert lsh, "LSH variant found no pairs at test scale"
    assert set(lsh) <= set(exact)
    for pair, sim in lsh.items():
        assert abs(sim - exact[pair]) < 1e-9


def test_dedup_index_probe_matches_inline(spark, tmp_path):
    """build_dedup_index + probe_dedup_index must reproduce the inline
    incremental_dedup_stats funnel row-for-row (same md5 kernels both
    sides), while the probe's band scan is pruned to the (band_no, kb)
    partitions the batch hits — the O(batch)-per-day production shape."""
    import os

    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.dedup import (
        build_dedup_index,
        incremental_dedup_stats,
        planted_ingest_batch,
        probe_dedup_index,
    )

    index_dir = str(tmp_path / "dedup_index")
    build_dedup_index(spark, SF_SMALL, index_dir)

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text", "lang")
    batch = planted_ingest_batch(docs)
    via_index = probe_dedup_index(spark, index_dir, batch)
    # capture the plan BEFORE the action: the post-run AQE final plan
    # collapses materialized stages into QueryStage refs, hiding FileScans
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    inline = incremental_dedup_stats(spark, SF_SMALL)
    assert [tuple(r) for r in via_index.collect()] == [
        tuple(r) for r in inline.collect()
    ]

    # disk layout: bands clustered by (band_no, kb) for pruning
    band_dirs = [d for d in os.listdir(f"{index_dir}/bands") if d.startswith("band_no=")]
    assert len(band_dirs) == 8  # 16 hashes / 2 rows per band
    kb_dirs = os.listdir(f"{index_dir}/bands/{band_dirs[0]}")
    assert all(d.startswith("kb=") for d in kb_dirs if not d.startswith(("_", ".")))

    # partition pruning: the stored band scan (identified by its schema —
    # plan paths truncate) must carry a NON-EMPTY PartitionFilters
    scans = [seg for seg in plan.split("FileScan") if "band_no#" in seg[:400]]
    assert scans and any("PartitionFilters: [(" in s for s in scans), plan


def test_tracked_persists_are_released(spark):
    """Query builders register every persist() through caching: after the
    action, release_tracked() frees the blocks and the session carries no
    cached RDDs it didn't have before (no clearCache hammer needed)."""
    from project_bigdata_recsys_spark.caching import release_tracked
    from project_bigdata_recsys_spark.functions.dedup import incremental_dedup_stats

    release_tracked()  # drain anything earlier tests pinned
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    incremental_dedup_stats(spark, SF_SMALL).collect()
    assert release_tracked() >= 2  # old-corpus + batch signature frames
    after = set(jsc.getPersistentRDDs().keys())
    assert after <= before, after - before


def test_ivf_lloyd_true_cosines_and_recall(spark):
    """Lloyd-iterated IVF: returned similarities equal exact brute-force
    cosines (approximation is in WHICH cells are probed, never values);
    recall@10 is nonzero and no worse than a couple of hits; and the
    centroid means must be reproducible — running the operator twice
    yields identical rows (order-independent fixed-point sums)."""
    from project_bigdata_recsys_spark.functions.similarity import (
        ivf_lloyd_knn,
        knn_brute_force,
    )

    exact = {r.vec_id: r.cos_sim for r in knn_brute_force(spark, SF_SMALL, k=100).collect()}
    out1 = ivf_lloyd_knn(spark, SF_SMALL, query_vec_id=0, k=10).collect()
    assert 0 < len(out1) <= 10
    for r in out1:
        if r.vec_id in exact:
            assert abs(r.cos_sim - exact[r.vec_id]) < 1e-6
    top10 = {r.vec_id for r in knn_brute_force(spark, SF_SMALL, k=10).collect()}
    assert len(top10 & {r.vec_id for r in out1}) >= 1

    out2 = ivf_lloyd_knn(spark, SF_SMALL, query_vec_id=0, k=10).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]


def test_connected_components_frees_superseded_checkpoints(spark):
    """Each CC round frees the previous round's localCheckpoint blocks
    once the new one is materialized; after a full clustering run only
    the caller-owned final label frame stays pinned (round 5 — a
    20-round run used to leave 20+ block sets in a long-lived session)."""
    from project_bigdata_recsys_spark.caching import release_tracked
    from project_bigdata_recsys_spark.functions.dedup import near_dup_clusters

    release_tracked()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    rows = near_dup_clusters(spark, SF_SMALL).collect()
    assert len(rows) > 0
    release_tracked()
    leftover = set(jsc.getPersistentRDDs().keys()) - before
    assert len(leftover) <= 1, leftover  # only the final labels frame


def test_update_components_matches_full_recompute(spark):
    """Incremental CC: folding a delta into a settled labeling must equal
    a full recompute over old ∪ delta edges — including component merges
    across the delta, chains, brand-new vertices, and untouched
    singletons keeping their label."""
    from project_bigdata_recsys_spark.functions.dedup import (
        connected_components,
        update_components,
    )

    old_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31), (40, 41)],
        "doc_a long, doc_b long",
    )
    prior = connected_components(old_edges)
    # 5 and 6 are settled singletons: in the labeling, in no edge;
    # the delta will touch 5 and leave 6 alone
    prior = prior.unionByName(
        spark.createDataFrame([(5, 5), (6, 6)], "doc_id long, cluster_id long")
    )

    delta = spark.createDataFrame(
        [
            (3, 10),      # merges {1,2,3} with {10,11} -> label 1
            (21, 100),    # extends {20,21} with a new vertex
            (100, 101),   # chain through the new vertex
            (5, 200),     # the singleton gains a partner
        ],
        "doc_a long, doc_b long",
    )

    incremental = {
        (r.doc_id, r.cluster_id)
        for r in update_components(prior, delta).collect()
    }
    full = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(old_edges.unionByName(delta)).collect()
    }
    # every vertex except the untouched singleton 6 touches an edge in
    # old ∪ delta, so the labelings must agree exactly on those; 6 is
    # invisible to the edge-driven full recompute but the incremental
    # path must preserve it
    assert incremental - {(6, 6)} == full
    assert (6, 6) in incremental
    # spot checks
    by_id = dict(incremental)
    assert by_id[1] == by_id[11] == 1
    assert by_id[20] == by_id[101] == 20
    assert by_id[5] == by_id[200] == 5
    assert by_id[30] == 30 and by_id[40] == 40  # untouched components


def test_knn_graph_true_cosines_and_coverage(spark):
    """kNN graph: every edge's cosine equals the exact pairwise value,
    per-source ranks are dense from 1, no self-edges, and graph recall
    is sane — for sources whose true nearest neighbor shares a bucket,
    rank-1 must BE that neighbor (the rerank is exact)."""
    from project_bigdata_recsys_spark.functions.similarity import (
        cosine,
        knn_graph_lsh,
    )
    from project_bigdata_recsys_spark.catalog import load_table

    graph = knn_graph_lsh(spark, SF_SMALL, k=3).collect()
    assert len(graph) > 0
    by_src: dict[int, list] = {}
    for r in graph:
        assert r.src_id != r.nbr_id
        by_src.setdefault(r.src_id, []).append(r)
    for rows in by_src.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True)

    # exact-cosine spot check against a directly computed pair matrix
    emb = load_table(spark, SF_SMALL, "embeddings")
    some_src = graph[0].src_id
    e = {r.vec_id: r.embedding for r in emb.collect()}
    import math

    def cos(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(y) ** 2 for y in b))
        return d / (na * nb)

    for r in by_src[some_src]:
        assert abs(r.cos_sim - round(cos(e[some_src], e[r.nbr_id]), 6)) < 1e-5


def test_probe_dedup_index_empty_batch(spark, tmp_path):
    """Probing the persisted index with an EMPTY batch must return an
    empty stats frame (no pruning-key collect crash, no null rows)."""
    from project_bigdata_recsys_spark.functions.dedup import (
        build_dedup_index,
        probe_dedup_index,
    )

    index_dir = str(tmp_path / "idx")
    build_dedup_index(spark, SF_SMALL, index_dir)
    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert probe_dedup_index(spark, index_dir, empty).count() == 0


def test_knn_graph_from_index_matches_inline(spark, tmp_path):
    """The index-backed kNN graph must reproduce the inline graph
    row-for-row (same deterministic buckets both sides) — hash once per
    corpus version, rebuild the graph from the stored relation."""
    from project_bigdata_recsys_spark.functions.similarity import (
        build_ann_index,
        knn_graph_from_index,
        knn_graph_lsh,
    )

    index_dir = str(tmp_path / "ann_index")
    build_ann_index(spark, SF_SMALL, index_dir)
    via_index = knn_graph_from_index(spark, SF_SMALL, index_dir, k=3).collect()
    inline = knn_graph_lsh(spark, SF_SMALL, k=3).collect()
    assert [tuple(r) for r in via_index] == [tuple(r) for r in inline]


def test_pq_knn_recall_and_exact_rerank(spark):
    """Product-quantization ANN: decent recall vs brute force, exact
    cosines on everything returned (rerank is exact — only the ADC
    shortlist is approximate), and bit-identical across runs."""
    from project_bigdata_recsys_spark.functions.similarity import pq_knn

    exact = {
        r.vec_id: r.cos_sim
        for r in knn_brute_force(spark, SF_SMALL, k=500).collect()
    }
    top10 = [r.vec_id for r in knn_brute_force(spark, SF_SMALL, k=10).collect()]
    a = pq_knn(spark, SF_SMALL, k=10).collect()
    b = pq_knn(spark, SF_SMALL, k=10).collect()
    assert a == b
    approx = {r.vec_id: r.cos_sim for r in a}
    recall = len(set(top10) & set(approx)) / 10
    assert recall >= 0.4, f"PQ recall@10 too low: {recall}"
    for vid, sim in approx.items():
        assert abs(exact[vid] - sim) < 1e-6


def test_pq_index_probe_matches_inline(spark, tmp_path):
    """Persisted PQ index probe must be row-identical to the inline
    pq_knn (same codebook arithmetic, same ADC, same rerank)."""
    from project_bigdata_recsys_spark.functions.similarity import (
        build_pq_index,
        pq_knn,
        query_pq_index,
    )

    idx = str(tmp_path / "pq")
    build_pq_index(spark, SF_SMALL, idx)
    inline = pq_knn(spark, SF_SMALL, k=10).collect()
    probed = query_pq_index(spark, idx, SF_SMALL, k=10).collect()
    assert inline == probed


def test_ivf_pq_index_probe_matches_inline(spark, tmp_path):
    """Persisted IVF-PQ index probe must be row-identical to the inline
    ivf_pq_knn (same coarse cells, same residual codebook, same
    per-cell ADC, same rerank) — the query_pq_index precedent."""
    from project_bigdata_recsys_spark.functions.similarity import (
        build_ivf_pq_index,
        ivf_pq_knn,
        query_ivf_pq_index,
    )

    idx = str(tmp_path / "ivfpq")
    build_ivf_pq_index(spark, SF_SMALL, idx)
    inline = ivf_pq_knn(spark, SF_SMALL, k=10).collect()
    probed = query_ivf_pq_index(spark, idx, SF_SMALL, k=10).collect()
    assert inline == probed
    # the codes relation is partitioned by cell — the probe's
    # inverted-list read is a directory prune, not a full scan
    import os

    assert any(d.startswith("cell=") for d in os.listdir(f"{idx}/codes"))


def test_ivf_pq_exact_rerank_and_ceiling_invariant(spark):
    """Everything ivf_pq_knn returns carries the EXACT cosine (only the
    shortlist is approximate), and the recall profile obeys its own
    decomposition: in-cell PQ recall can never beat the probed-cell
    exact-search ceiling."""
    from project_bigdata_recsys_spark.functions.similarity import (
        ivf_pq_knn,
        ivf_pq_recall_profile,
    )

    exact = {
        r.vec_id: r.cos_sim
        for r in knn_brute_force(spark, SF_SMALL, k=500).collect()
    }
    a = ivf_pq_knn(spark, SF_SMALL, k=10).collect()
    b = ivf_pq_knn(spark, SF_SMALL, k=10).collect()
    assert a == b
    for r in a:
        assert abs(exact[r.vec_id] - r.cos_sim) < 1e-6
    prof = ivf_pq_recall_profile(spark, SF_SMALL).collect()
    assert len(prof) == 5
    for r in prof:
        assert r.recall_ivf_pq <= r.cell_ceiling + 1e-9
        assert abs(r.uplift - (r.recall_ivf_pq - r.recall_pq)) < 1e-9


def test_simhash_pairs_from_bands_equals_inline(spark):

    from project_bigdata_recsys_spark.catalog import load_table
    from project_bigdata_recsys_spark.functions.dedup import (
        _simhash_pairs_from_bands,
        shared_simhash_bands,
        simhash_near_pairs_for,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    inline = set(
        map(tuple, simhash_near_pairs_for(docs, sort=False).collect())
    )
    bands = spark.read.parquet(
        shared_simhash_bands(spark, SF_SMALL)
    ).select("doc_id", "simhash", "band_no", "k")
    from_index = set(
        map(tuple, _simhash_pairs_from_bands(bands).collect())
    )
    assert inline == from_index and len(inline) > 0
