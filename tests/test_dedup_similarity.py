import pytest
from pyspark.sql import functions as F

from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import (
    dedup as DD,
    similarity as SIM,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and dreams about chasing mice all day"
)


@pytest.fixture(scope="module")
def docs(spark):
    near = BASE.replace("warm", "cold") + " tonight"
    other = (
        "completely different text about spark dataframes shuffling "
        "partitions across executors with adaptive query execution plans"
    )
    return spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, near), (4, other)], "doc_id long, text string"
    ).cache()


def test_exact_dedup(docs):
    out = {r.keep_id: r.n_dups for r in DD.exact_dedup(docs).collect()}
    assert out[1] == 2  # docs 1 and 2 identical, keeper = min id
    assert out[3] == 1 and out[4] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r.id1, r.id2): r.jaccard for r in DD.ngram_jaccard_pairs(docs, 0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_lsh_recovers_exact_dup(docs):
    pairs = {(r.id1, r.id2) for r in DD.minhash_lsh_pairs(docs, bands=8, verify_threshold=0.3).collect()}
    assert (1, 2) in pairs
    assert not any(4 in p for p in pairs)


def test_minhash_signature_identical_for_identical_docs(docs):
    sig = DD.minhash_signatures(docs).collect()
    by_id = {r.id: tuple(r[f"mh{i}"] for i in range(16)) for r in sig}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[4]


def test_simhash_near_dup_close(docs):
    out = {r.id: r.simhash for r in DD.simhash(docs).collect()}
    assert out[1] == out[2]
    ham = bin(out[1] ^ out[3]).count("1")
    ham_far = bin(out[1] ^ out[4]).count("1")
    assert ham < ham_far


def test_simhash_pairs_exact_vs_bruteforce(spark):
    # 12 docs: exact dups, word-swapped near dups, and unrelated text.
    rows = [(i, BASE) for i in range(1, 4)]
    rows += [(i, BASE.replace("warm", w)) for i, w in [(4, "cold"), (5, "hot")]]
    rows += [
        (6, "spark dataframes shuffle partitions across executors"),
        (7, "spark dataframes shuffle partitions across machines"),
        (8, "entirely unrelated musings on sourdough fermentation"),
        (9, "entirely unrelated musings on sourdough fermentation today"),
        (10, BASE + " extra trailing words appended here"),
        (11, "short text"),
        (12, "short test"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id1, r.id2): r.hamming
        for r in DD.simhash_pairs(docs, bits=32, max_hamming=3).collect()
    }
    # brute-force reference over the same signatures
    sig = {r.id: r.simhash for r in DD.simhash(docs).collect()}
    want = {}
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sig[a] ^ sig[b]).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert got == want  # perfect recall AND precision — pigeonhole is exact
    assert (1, 2) in got and got[(1, 2)] == 0


def test_simhash_pairs_rejects_indivisible_blocks(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        DD.simhash_pairs(docs, bits=32, max_hamming=4)  # 5 blocks !| 32


def test_embedding_near_dups(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),
            (3, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r.id1, r.id2) for r in DD.embedding_near_dups(emb, 0.95).collect()}
    assert pairs == {(1, 2)}


def test_embedding_near_dups_guard_failfast(spark):
    """The exact all-pairs path must refuse to run beyond parity scale
    and point at the LSH twin (no unguarded O(n^2) crossJoin reachable
    from queries())."""
    import pytest

    emb = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="embedding_near_dups_lsh"):
        DD.embedding_near_dups(emb, 0.95, max_vectors=5)
    # explicit opt-out still works
    assert DD.embedding_near_dups(emb, 0.95, max_vectors=None).count() == 45


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    mat = rng.randn(30, 8).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    got = SIM.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=4).collect()
    nm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = nm @ nm.T
    for q in range(3):
        order = [
            int(j)
            for j in sorted(range(30), key=lambda j: (-round(sims[q, j], 6), j))
            if j != q
        ][:4]
        mine = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank) if r.query_id == q]
        assert mine == order


def test_lsh_topk_subset_of_exact_space(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    mat = rng.randn(40, 16).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") < 2)
    approx = SIM.cosine_lsh_topk(emb, q, k=3, n_planes=4)
    rows = approx.collect()
    # structure: ranks contiguous from 1, neighbors never the query itself
    for r in rows:
        assert r.neighbor_id != r.query_id
        assert 1 <= r.rank <= 3


def test_ivf_topk_structure_and_full_probe_recall(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    mat = rng.randn(40, 16).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") < 3)
    approx = SIM.ivf_topk(emb, q, k=4, n_cells=6, n_probe=2).collect()
    for r in approx:
        assert r.neighbor_id != r.query_id and 1 <= r.rank <= 4
    # probing EVERY cell must recover the exact top-k
    full = SIM.ivf_topk(emb, q, k=4, n_cells=6, n_probe=6)
    exact = SIM.cosine_topk(emb, q, k=4)
    got = {(r.query_id, r.rank): r.neighbor_id for r in full.collect()}
    want = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    assert got == want


def test_pq_encode_codeword_self_assignment(spark):
    """A vector that IS a codeword must encode to its own codes (its
    per-subspace distance to itself is 0), and every code array has
    exactly n_subspaces entries."""
    import numpy as np

    rng = np.random.RandomState(5)
    mat = rng.randn(20, 8).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    nn = SIM._normalize(emb, "vec_id", "embedding")
    cb = SIM.pq_codebook(nn, n_subspaces=2, n_codes=4, seed=42)
    codes = {r.id: list(r.codes) for r in SIM.pq_encode(nn, cb, 2).collect()}
    assert all(len(c) == 2 for c in codes.values())
    # map each codeword row back to the sampled corpus id it came from
    cb_rows = cb.collect()
    nn_rows = {r.id: list(r.v) for r in nn.collect()}
    for r in cb_rows:
        owner = next(
            i for i, v in nn_rows.items()
            if v[r.subspace * 4 : (r.subspace + 1) * 4] == list(r.cv)
        )
        assert codes[owner][r.subspace] == r.code


def test_pq_topk_structure_and_singlecode_exactness(spark):
    import numpy as np

    rng = np.random.RandomState(13)
    mat = rng.randn(30, 8).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") < 3)
    rows = SIM.pq_topk(emb, q, k=4, n_subspaces=2, n_codes=8).collect()
    for r in rows:
        assert r.neighbor_id != r.query_id and 1 <= r.rank <= 4
    assert len({(r.query_id, r.rank) for r in rows}) == len(rows)
    # determinism: a second run is bit-identical
    rows2 = SIM.pq_topk(emb, q, k=4, n_subspaces=2, n_codes=8).collect()
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.approx_cosine)
    assert sorted(map(key, rows)) == sorted(map(key, rows2))
    # with n_codes == corpus size every vector is its own codeword, so
    # ADC degenerates to the EXACT cosine ranking
    small = emb.filter(F.col("vec_id") < 12)
    exact = SIM.cosine_topk(small, small.filter(F.col("vec_id") < 2), k=3)
    adc = SIM.pq_topk(
        small, small.filter(F.col("vec_id") < 2), k=3, n_subspaces=2, n_codes=12
    )
    got = {(r.query_id, r.rank): r.neighbor_id for r in adc.collect()}
    want = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    assert got == want


def test_ivf_centroid_pick_is_distributed_take_ordered(spark):
    """The centroid sample must compile to TakeOrderedAndProject
    (per-partition top-n + driver merge), never a global row_number
    window that funnels the whole corpus through one partition."""
    import numpy as np

    rng = np.random.RandomState(7)
    mat = rng.randn(30, 8).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") < 2)
    # the centroid sample runs eagerly as orderBy().limit().collect()
    # (TakeOrderedAndProject) and is inlined as literals, so the final
    # plan must contain NO single-partition exchange at all
    plan = SIM.ivf_topk(emb, q, k=3, n_cells=4)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_normalize_norm_evaluated_once():
    """The L2 norm aggregate must be materialized in its own projection
    (referenced-inside-lambda exprs re-evaluate per element)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    emb = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    nn = SIM._normalize(emb, "vec_id", "embedding")
    plan = nn._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(") == 1
    rows = {r.id: r.v for r in nn.collect()}
    assert [round(x, 6) for x in rows[1]] == [0.6, 0.8]
    assert rows[2] == [0.0, 0.0]  # zero vector passes through un-divided


def test_mllib_lsh_topk_structure_and_recall(spark):
    import numpy as np

    rng = np.random.RandomState(5)
    mat = rng.randn(40, 16).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") < 3)
    got = SIM.cosine_mllib_lsh_topk(emb, q, k=4, num_hash_tables=6).collect()
    for r in got:
        assert r.neighbor_id != r.query_id and 1 <= r.rank <= 4
    # with enough hash tables the top-1 neighbor should match exact
    exact = {r.query_id: r.neighbor_id
             for r in SIM.cosine_topk(emb, q, k=1).collect()}
    mine = {r.query_id: r.neighbor_id for r in got if r.rank == 1}
    hits = sum(1 for qid in exact if mine.get(qid) == exact[qid])
    assert hits >= 2  # 2/3 top-1 recall floor for this seed


def test_ivf_kmeans_full_probe_recall(spark):
    import numpy as np

    rng = np.random.RandomState(9)
    mat = rng.randn(40, 16).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") < 3)
    full = SIM.ivf_kmeans_topk(emb, q, k=4, n_cells=5, n_probe=5)
    exact = SIM.cosine_topk(emb, q, k=4)
    got = {(r.query_id, r.rank): r.neighbor_id for r in full.collect()}
    want = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    assert got == want  # probing every cell recovers the exact answer


def test_embedding_neardup_lsh_subset_of_exact(spark):
    """The sign-LSH near-dup scale path returns a SUBSET of the exact
    pairs (same-bucket only) with identical cosines, and near-parallel
    vectors (which always share a bucket) are never missed."""
    import numpy as np

    rng = np.random.RandomState(23)
    base_v = rng.randn(12)
    mat = np.vstack(
        [base_v + 0.02 * rng.randn(12) for _ in range(6)]  # near-dups
        + [rng.randn(12) for _ in range(30)]
    ).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(36)],
        "vec_id long, embedding array<float>",
    )
    exact = {(r.id1, r.id2): r.cosine for r in DD.embedding_near_dups(emb, 0.95).collect()}
    lsh = {(r.id1, r.id2): r.cosine for r in DD.embedding_near_dups_lsh(emb, 0.95, n_planes=6).collect()}
    assert set(lsh) <= set(exact)
    for k, c in lsh.items():
        assert abs(c - exact[k]) < 1e-9
    # the 6 near-parallel vectors hash to one bucket -> all 15 pairs kept
    assert {(a, b) for a in range(6) for b in range(6) if a < b} <= set(lsh)


def test_lsh_salting_identical_pairs_on_skewed_fixture(spark):
    """salted_join only changes the shuffle layout: LSH pair output
    with salting on (explicit and auto) must equal salting off, on a
    fixture where most docs collapse into one hot bucket."""
    # 40 near-identical docs (one hot band bucket) + 10 distinct
    docs = [(i, "the same boilerplate text repeated again and again here") for i in range(40)]
    docs += [(100 + i, f"unique document number {i} with its own words entirely") for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    base = DD.minhash_lsh_pairs(df, verify_threshold=None)
    salted = DD.minhash_lsh_pairs(df, verify_threshold=None, salt=4)
    auto = DD.minhash_lsh_pairs(df, verify_threshold=None, salt="auto", skew_threshold=2.0)
    want = {(r.id1, r.id2) for r in base.collect()}
    assert {(r.id1, r.id2) for r in salted.collect()} == want
    assert {(r.id1, r.id2) for r in auto.collect()} == want
    assert len(want) >= 40 * 39 // 2  # the hot bucket really is hot


def test_cosine_lsh_salting_identical(spark):
    import numpy as np

    rng = np.random.RandomState(13)
    base_v = rng.randn(8)
    # 30 near-parallel vectors (one hot LSH bucket) + 10 spread
    mat = np.vstack(
        [base_v + 0.01 * rng.randn(8) for _ in range(30)]
        + [rng.randn(8) for _ in range(10)]
    ).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") < 3)
    plain = SIM.cosine_lsh_topk(emb, q, k=4, n_planes=4)
    salted = SIM.cosine_lsh_topk(emb, q, k=4, n_planes=4, salt=4)
    auto = SIM.cosine_lsh_topk(emb, q, k=4, n_planes=4, salt="auto", skew_threshold=2.0)
    want = {(r.query_id, r.rank): r.neighbor_id for r in plain.collect()}
    assert {(r.query_id, r.rank): r.neighbor_id for r in salted.collect()} == want
    assert {(r.query_id, r.rank): r.neighbor_id for r in auto.collect()} == want


def test_connected_components_and_canonical(spark):
    ids = spark.createDataFrame([(i,) for i in range(8)], "id long")
    # components: {0,1,2,3} (chain), {5,6} — 4 and 7 are singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "id1 long, id2 long"
    )
    comp = {r.id: r.cluster_id for r in DD.connected_components(ids, pairs).collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}
    docs = ids.withColumnRenamed("id", "doc_id")
    clusters = DD.connected_components(
        docs.select(F.col("doc_id").alias("id")), pairs
    ).select(F.col("id").alias("doc_id"), "cluster_id")
    kept = {r.doc_id for r in DD.keep_canonical(docs, clusters).collect()}
    assert kept == {0, 4, 5, 7}


def test_connected_components_long_chain_converges_logarithmically(spark):
    """Pointer jumping must collapse a 60-node chain within O(log n)
    rounds — max_iter=8 would be impossible for pure one-hop label
    propagation (needs ~59 rounds) but is ample for path halving."""
    n = 60
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long"
    )
    comp = {
        r.id: r.cluster_id
        for r in DD.connected_components(ids, pairs, max_iter=8).collect()
    }
    assert comp == {i: 0 for i in range(n)}


def test_contamination_pairs_and_decontaminate(spark):
    """Docs sharing >= min_overlap trigrams with a benchmark doc are
    flagged; decontaminate drops exactly those."""
    corpus = spark.createDataFrame(
        [
            (1, BASE),                                     # contains the bench trigrams
            (2, "unrelated text about database engines and columnar storage"),
            (3, BASE.replace("quick", "rapid")),           # still overlaps heavily
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string",
    )
    pairs = DD.contamination_pairs(corpus, bench, n=3, min_overlap=2)
    got = {(r.doc_id, r.bench_id) for r in pairs.collect()}
    assert (1, 100) in got and (3, 100) in got
    assert all(d != 2 for d, _ in got)
    clean = DD.decontaminate(corpus, bench, n=3, min_overlap=2)
    assert {r.doc_id for r in clean.collect()} == {2}
    # overlap counts are distinct-shingle counts
    n1 = {r.doc_id: r.n_overlap for r in pairs.collect()}[1]
    assert n1 >= 6  # the full bench text minus boundary trigrams


def test_contamination_max_shingle_df_guard(spark):
    """Stop-phrase shingles above the df cap generate no overlap."""
    boiler = "lorem ipsum dolor sit amet " * 2
    corpus = spark.createDataFrame(
        [(i, boiler + f"doc {i} body") for i in range(1, 6)],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame([(9, boiler)], "doc_id int, text string")
    with_cap = DD.contamination_pairs(corpus, bench, n=3, min_overlap=1,
                                      max_shingle_df=2)
    assert with_cap.count() == 0  # boilerplate appears in all 5 docs > cap
    without = DD.contamination_pairs(corpus, bench, n=3, min_overlap=1)
    assert without.count() == 5


def test_doc_shingles_df_cap_anti_joins_the_hot_set(spark):
    """max_shingle_df keeps exactly the shingles in at most that many
    docs, by a left-anti join against the hot set that the planner
    broadcasts only when its size allows it (no forced broadcast)."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "a b c f g"), (4, None), (5, "x y")],
        "doc_id int, text string",
    )
    full = DD.doc_shingles(docs, n=2)
    df = {}
    for r in full.collect():
        df[r.shingle] = df.get(r.shingle, 0) + 1
    capped = DD.doc_shingles(docs, n=2, max_shingle_df=2)
    want = sorted((r.id, r.shingle) for r in full.collect() if df[r.shingle] <= 2)
    assert sorted((r.id, r.shingle) for r in capped.collect()) == want
    assert "a b" in df and df["a b"] == 3 and len(want) < len(df)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        capped = DD.doc_shingles(docs, n=2, max_shingle_df=2)
        assert sorted((r.id, r.shingle) for r in capped.collect()) == want
        plan = capped._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "BroadcastHashJoin" not in plan and "LeftAnti" in plan, plan


def test_dp1_training_pipeline_stages_monotone(spark):
    """The composed dedup -> decontaminate -> sample -> pack pipeline:
    each stage only removes docs, every surviving doc gets exactly one
    packed slot, and the lineage is deterministic."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans.driver_queries import (
        dp1_training_pipeline,
    )

    sf = "/root/testdata/sf0.001"
    out = dp1_training_pipeline(spark, sf).cache()
    n = out.count()
    docs = spark.read.parquet(sf + "/documents.parquet")
    assert 0 < n < docs.count()
    assert out.select("doc_id").distinct().count() == n
    again = dp1_training_pipeline(spark, sf)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_lsh_multi_table_or_amplification(spark):
    """n_tables unions independent hash tables: recall vs exact is
    monotonically >= the single-table recall, the plan stays a union
    of bucket equi-joins, and n_tables=1 is bit-identical to before."""
    import random

    random.seed(5)
    dim = 16
    rows = []
    for i in range(300):
        base = [random.gauss(0, 1) for _ in range(dim)]
        rows.append((i, [float(x) for x in base]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").cache()
    qs = emb.filter(F.col("vec_id") % 37 == 0)
    truth = {(r.query_id, r.neighbor_id)
             for r in SIM.cosine_topk(emb, qs, k=5).collect()}

    def rec(n_tables):
        got = {(r.query_id, r.neighbor_id)
               for r in SIM.cosine_lsh_topk(emb, qs, k=5, n_planes=6,
                                            n_tables=n_tables).collect()}
        return len(got & truth) / len(truth)

    r1, r4 = rec(1), rec(4)
    assert r4 >= r1
    assert r4 > 0
    # determinism
    a = SIM.cosine_lsh_topk(emb, qs, k=5, n_planes=6, n_tables=4).collect()
    b = SIM.cosine_lsh_topk(emb.repartition(7), qs, k=5, n_planes=6, n_tables=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ivf_index_build_probe_matches_inline(spark, tmp_path):
    """Materialized IVF index: probe results identical to the inline
    ivf_topk with the same params, and the corpus scan is partition-
    pruned to the probed cells."""
    import contextlib
    import io

    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivf")
    SIM.build_ivf_index(emb, idx, n_cells=8)
    # the centroid dim table (<=512 rows by contract) is ONE file —
    # every drain/probe footer-reads it, so per-partition fragments
    # were pure listing overhead (guide §6; r15)
    import os as _os

    assert (
        len([f for f in _os.listdir(idx + "/centroids") if f.endswith(".parquet")])
        == 1
    )
    via_index = SIM.ivf_topk_from_index(spark, idx, qs, k=5, n_probe=3)
    inline = SIM.ivf_topk(emb, qs, k=5, n_cells=8, n_probe=3)
    assert sorted(map(tuple, via_index.collect())) == sorted(map(tuple, inline.collect()))

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        via_index.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]


def test_dedup_against_corpus_incremental(spark):
    """Cross-corpus LSH pairs agree with the self-join run on the
    union (restricted to cross pairs), and survivors are exactly the
    new docs with no verified corpus near-dup."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        (1, base),                                    # new: dup of corpus 2
        (3, "completely different text about spark catalyst optimizer internals"),
        (5, base.replace("quick", "rapid")),          # new: near-dup of 2
        (2, base),                                    # corpus
        (4, "unrelated corpus document mentioning columnar parquet storage"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    new = df.filter(F.col("doc_id") % 2 == 1)
    corpus = df.filter(F.col("doc_id") % 2 == 0)

    pairs = DD.minhash_lsh_pairs_between(
        new, corpus, bands=8, n_hashes=16, verify_threshold=0.1
    )
    got = {(r.new_id, r.corpus_id) for r in pairs.collect()}
    self_pairs = DD.minhash_lsh_pairs(
        df, bands=8, n_hashes=16, verify_threshold=0.1
    )
    cross = {
        (a, b) if a % 2 == 1 else (b, a)
        for r in self_pairs.collect()
        for a, b in [(r.id1, r.id2)]
        if (a % 2) != (b % 2)
    }
    assert got == cross and (1, 2) in got

    survivors = {
        r.doc_id
        for r in DD.dedup_against_corpus(
            new, corpus, bands=8, n_hashes=16, verify_threshold=0.1
        ).collect()
    }
    assert survivors == {1, 3, 5} - {p[0] for p in got}
    assert 3 in survivors


def test_containment_finds_embedded_quote(spark):
    short = "alpha beta gamma delta epsilon zeta"
    container = (
        "intro words before the quote " + short + " and plenty of trailing "
        "commentary that makes this document much longer than the quoted one"
    )
    other = "unrelated corpus text about distributed joins and shuffles here"
    docs = spark.createDataFrame(
        [(1, short), (2, container), (3, other)], "doc_id long, text string"
    )
    out = {
        (r.contained_id, r.container_id): r.containment
        for r in DD.containment_pairs(docs, threshold=0.9).collect()
    }
    # every shingle of the short doc occurs in the container -> containment 1.0
    assert out[(1, 2)] == 1.0
    assert not any(3 in p for p in out)
    # Jaccard on the same pair is well below 1 (the asymmetric case)
    jac = {
        (r.id1, r.id2): r.jaccard
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    assert jac[(1, 2)] < 0.5


def test_shingle_join_output_guard_trips(spark):
    """VERDICT r13 item 5: containment_pairs / ngram_jaccard_pairs
    price the inverted-index self-join (Σ C(df,2) candidates) from the
    shingle df table BEFORE the join. A synthetic hot shingle — one
    3-gram shared by all 10 docs, every other shingle unique — must
    trip the bound with the exact candidate count (C(10,2) = 45) and a
    max_shingle_df that fits; within the bound the guard is invisible
    and the default (None) adds no job."""
    docs = spark.createDataFrame(
        [(i, f"the quick fox unique{i} word{i} extra{i}") for i in range(10)],
        "doc_id long, text string",
    )
    for fn, name in (
        (DD.containment_pairs, "containment_pairs"),
        (DD.ngram_jaccard_pairs, "ngram_jaccard_pairs"),
    ):
        with pytest.raises(ValueError, match=name) as exc:
            fn(docs, threshold=0.1, max_join_output=10)
        msg = str(exc.value)
        assert "45" in msg and "df 10" in msg and "<= 1" in msg
    # a fitting bound returns exactly the unguarded result
    guarded = {
        (r.id1, r.id2, r.jaccard)
        for r in DD.ngram_jaccard_pairs(
            docs, threshold=0.01, max_join_output=100
        ).collect()
    }
    plain = {
        (r.id1, r.id2, r.jaccard)
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    assert guarded == plain and len(plain) == 45
    # the suggested knob (max_shingle_df=1) drops the hot shingle and fits
    assert (
        DD.containment_pairs(
            docs, threshold=0.1, max_shingle_df=1, max_join_output=10
        ).count()
        == 0
    )


def test_containment_orientation_ties_break_by_id(spark):
    # identical docs: equal set sizes -> (smaller id, larger id)
    docs = spark.createDataFrame(
        [(7, BASE), (5, BASE)], "doc_id long, text string"
    )
    rows = DD.containment_pairs(docs, threshold=0.9).collect()
    assert len(rows) == 1
    assert (rows[0].contained_id, rows[0].container_id) == (5, 7)


def test_mmr_rerank_prefers_diversity(spark):
    # q = e1; a,b near-duplicates along e1; c diverse (e1+e2 mix).
    # Pure top-3 = [a, b, c]; MMR must demote the redundant b below c.
    rows = [
        (0, [1.0, 0.0, 0.0]),          # query
        (1, [0.99, 0.1, 0.0]),         # a: high rel
        (2, [0.99, 0.11, 0.0]),        # b: near-dup of a
        (3, [0.7, 0.0, 0.7]),          # c: diverse, lower rel
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    sel = SIM.mmr_rerank(emb, query_id=0, k=3, top_n=3, lam=0.5, mu=0.5)
    order = [cid for _, cid, _ in sel]
    assert order[0] == 1          # best relevance first
    assert order[1] == 3          # diverse beats redundant at step 2
    assert order[2] == 2
    ranks = [rk for rk, _, _ in sel]
    assert ranks == [1, 2, 3]


def test_containment_properties_random_corpora(spark):
    """Property check vs a brute-force python reference: containment
    equals |A∩B|/|min set| for every surfaced pair, bounds in (0,1],
    orientation always smaller-into-larger (ids break size ties)."""
    from hypothesis import given, settings, strategies as st

    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]

    @settings(max_examples=5, deadline=None, derandomize=True)
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(vocab), min_size=3, max_size=12),
            min_size=2,
            max_size=6,
        )
    )
    def check(docs):
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.contained_id, r.container_id): r.containment
            for r in DD.containment_pairs(df, threshold=0.01, n=3).collect()
        }

        def sh(toks):
            return {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }

        sets = {i: sh(t) for i, t in enumerate(docs)}
        for (a, b), c in got.items():
            sa, sb = sets[a], sets[b]
            assert 0 < c <= 1
            # orientation: contained side is the smaller set (id ties)
            assert (len(sa), a) <= (len(sb), b)
            assert abs(c - len(sa & sb) / len(sa)) < 1e-9
        # completeness: every intersecting unordered pair surfaces
        for i in sets:
            for j in sets:
                if i < j and sets[i] & sets[j]:
                    assert (i, j) in got or (j, i) in got

    check()


def test_label_propagation_invariant_to_input_partitioning(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import graph as G

    edges = [(f"n{i}", f"n{(i + 1) % 7}") for i in range(7)] + [
        ("m1", "m2"), ("m2", "m3"), ("m1", "m3")
    ]
    e0 = spark.createDataFrame(edges, "src string, dst string")
    sym = e0.union(e0.selectExpr("dst as src", "src as dst"))
    a = {(r.node, r.community) for r in G.label_propagation(sym.repartition(1), 3).collect()}
    b = {(r.node, r.community) for r in G.label_propagation(sym.repartition(13), 3).collect()}
    assert a == b


def test_ivf_index_append_matches_full_build(spark, tmp_path):
    """append_to_ivf_index batching invariance: (build on A, append B)
    must search identically to an index whose corpus is A∪B assigned
    against A's centroids — and appends must not rewrite existing cell
    partitions."""
    import os
    import numpy as np

    rng = np.random.RandomState(9)
    mat = rng.randn(50, 8).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    base = emb.filter(F.col("vec_id") < 30)
    batch = emb.filter(F.col("vec_id") >= 30)
    q = emb.filter(F.col("vec_id") < 3)

    inc = str(tmp_path / "inc")
    SIM.build_ivf_index(base, inc, n_cells=4)
    files_before = {
        os.path.join(r, f)
        for r, _, fs in os.walk(inc + "/corpus") for f in fs if f.endswith(".parquet")
    }
    SIM.append_to_ivf_index(spark, inc, batch)
    # existing files untouched — append only adds
    files_after = {
        os.path.join(r, f)
        for r, _, fs in os.walk(inc + "/corpus") for f in fs if f.endswith(".parquet")
    }
    assert files_before <= files_after and len(files_after) > len(files_before)

    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in SIM.ivf_topk_from_index(spark, inc, q, k=4, n_probe=2).collect()
    }
    # batching invariance: appending the same vectors in TWO smaller
    # batches (different write order) must search identically
    full = str(tmp_path / "full")
    SIM.build_ivf_index(base, full, n_cells=4)
    SIM.append_to_ivf_index(spark, full, emb.filter(F.col("vec_id") >= 42))
    SIM.append_to_ivf_index(
        spark, full, emb.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 42))
    )
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in SIM.ivf_topk_from_index(spark, full, q, k=4, n_probe=2).collect()
    }
    assert got == want and len(got) > 0


def test_ivf_radius_full_probe_equals_brute_force(spark):
    """With n_probe == n_cells the probe is exhaustive, so radius
    search must return EXACTLY the all-pairs threshold set (computed
    in numpy); with fewer probes the result must be a subset of it
    and every returned cosine must clear the threshold."""
    import numpy as np

    rng = np.random.RandomState(7)
    mat = rng.randn(40, 8).astype("float32")
    mat[5] = mat[2] * 3.0 + rng.randn(8).astype("float32") * 0.05  # a near-dup pair
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") < 6)
    tau = 0.5

    norm = mat.astype("float64")
    norm = norm / np.linalg.norm(norm, axis=1, keepdims=True)
    sims = norm @ norm.T
    want = {
        (qi, ni)
        for qi in range(6)
        for ni in range(40)
        if ni != qi and round(sims[qi, ni], 6) >= tau
    }

    full = SIM.ivf_radius(emb, q, threshold=tau, n_cells=6, n_probe=6)
    got = {(r.query_id, r.neighbor_id) for r in full.collect()}
    assert got == want and (2, 5) in got

    part = SIM.ivf_radius(emb, q, threshold=tau, n_cells=6, n_probe=2)
    prows = part.collect()
    assert {(r.query_id, r.neighbor_id) for r in prows} <= want
    assert all(r.cosine >= tau for r in prows)


def test_ivf_radius_consistent_with_ivf_topk(spark):
    """Same IVF params: the radius result must equal the topk result
    (k = corpus size, i.e. unbounded) filtered to the threshold."""
    import numpy as np

    rng = np.random.RandomState(3)
    mat = rng.randn(30, 8).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") < 4)
    tau = 0.3
    rad = {
        (r.query_id, r.neighbor_id, r.cosine)
        for r in SIM.ivf_radius(emb, q, threshold=tau, n_cells=5, n_probe=2).collect()
    }
    topk = {
        (r.query_id, r.neighbor_id, r.cosine)
        for r in SIM.ivf_topk(emb, q, k=30, n_cells=5, n_probe=2).collect()
        if r.cosine >= tau
    }
    assert rad == topk


def test_ivf_filtered_full_probe_equals_filtered_brute_force(spark):
    """ss11's contract: with exhaustive probes, filtered ANN returns
    exactly the brute-force top-k over the PREDICATE-SATISFYING corpus
    (numpy truth); with fewer probes every returned neighbor still
    satisfies the predicate."""
    import numpy as np

    rng = np.random.RandomState(11)
    mat = rng.randn(40, 8).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]], i % 3) for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    q = emb.filter(F.col("vec_id") < 5)
    pred = F.col("label") == 0
    k = 3

    norm = mat.astype("float64")
    norm = norm / np.linalg.norm(norm, axis=1, keepdims=True)
    sims = norm @ norm.T
    want = {}
    for qi in range(5):
        cands = sorted(
            (
                (-round(sims[qi, ni], 6), ni)
                for ni in range(40)
                if ni != qi and ni % 3 == 0
            ),
        )[:k]
        want[qi] = {ni for _, ni in cands}

    full = SIM.ivf_filtered_topk(emb, q, pred, k=k, n_cells=6, n_probe=6)
    got = {}
    for r in full.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert r.neighbor_id % 3 == 0  # predicate holds
    assert got == want

    part = SIM.ivf_filtered_topk(emb, q, pred, k=k, n_cells=6, n_probe=2)
    for r in part.collect():
        assert r.neighbor_id % 3 == 0


def test_ivf_filtered_predicate_reaches_the_scan(spark, tmp_path):
    """The corpus predicate must push into the parquet read (the
    100 TB point of pre-filtering): PushedFilters on the corpus scan
    mentions the metadata column."""
    import contextlib
    import io

    p = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, [float(i), 1.0], i % 3) for i in range(30)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(p)
    emb = spark.read.parquet(p)
    out = SIM.ivf_filtered_topk(
        emb, emb.filter(F.col("vec_id") < 3), F.col("label") == 0, k=2, n_cells=4, n_probe=2
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan
    import re

    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("label" in ln for ln in pushed), pushed


def test_kmeans_index_full_probe_equals_brute_force(spark, tmp_path):
    """build_ivf_kmeans_index writes the build_ivf_index layout, so
    ivf_topk_from_index probes it unchanged; with exhaustive probes
    the result equals brute-force top-k (numpy truth)."""
    import numpy as np

    rng = np.random.RandomState(3)
    mat = rng.randn(50, 8).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") < 4)
    idx = str(tmp_path / "kmidx")
    SIM.build_ivf_kmeans_index(emb, idx, n_cells=5, max_iter=5)

    norm = mat.astype("float64")
    norm = norm / np.linalg.norm(norm, axis=1, keepdims=True)
    sims = norm @ norm.T
    k = 3
    want = {
        qi: {
            ni
            for _, ni in sorted(
                ((-round(sims[qi, ni], 6), ni) for ni in range(50) if ni != qi)
            )[:k]
        }
        for qi in range(4)
    }
    got = {}
    for r in SIM.ivf_topk_from_index(spark, idx, q, k=k, n_probe=5).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert got == want


def test_fastpath_cache_reuses_identical_plan_and_rotates_on_new(spark):
    """ADVICE r08: the one-slot assignment cache must REUSE the live
    entry for a semantically identical frame (back-to-back identical
    ivf queries) and only rotate the slot for a different plan."""
    a = spark.range(10).select("id", F.array(F.lit(1.0)).alias("v"))
    b = spark.range(10).select("id", F.array(F.lit(1.0)).alias("v"))
    other = spark.range(20).select("id", F.array(F.lit(2.0)).alias("v"))

    SIM._FASTPATH_CACHE.clear()
    first = SIM._cache_assignment(a)
    assert first.storageLevel.useMemory
    again = SIM._cache_assignment(b)  # identical plan, different object
    assert again is first  # reused, not evicted-and-rebuilt
    assert len(SIM._FASTPATH_CACHE) == 1

    rotated = SIM._cache_assignment(other)
    assert rotated is not first
    assert len(SIM._FASTPATH_CACHE) == 1
    assert not first.storageLevel.useMemory  # old entry unpersisted
    rotated.unpersist(blocking=False)
    SIM._FASTPATH_CACHE.clear()


def _mk_emb(spark, n=50, d=8, seed=9):
    import numpy as np

    rng = np.random.RandomState(seed)
    mat = rng.randn(n, d).astype("float32")
    return spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )


def test_ivf_staleness_report_counts_and_trigger(spark, tmp_path):
    """Per-cell base/delta volumes, exact delta_share, and the
    compaction trigger (share > threshold OR too many delta dirs)."""
    emb = _mk_emb(spark)
    idx = str(tmp_path / "ivf")
    SIM.build_ivf_index(emb.filter(F.col("vec_id") < 30), idx, n_cells=4)

    # no deltas yet: all shares zero, nothing due
    rep0 = SIM.ivf_staleness_report(spark, idx).collect()
    assert rep0 and all(
        r.n_delta == 0 and r.delta_share == 0.0 and not r.compaction_due
        for r in rep0
    )
    assert sum(r.n_base for r in rep0) == 30

    for b in range(2):
        SIM.append_delta_to_ivf_index(
            spark, idx, emb.filter(F.col("vec_id") % 2 == b).filter(F.col("vec_id") >= 30), b
        )
    rep = {r.cell: r for r in SIM.ivf_staleness_report(spark, idx).collect()}
    assert sum(r.n_delta for r in rep.values()) == 20
    for r in rep.values():
        assert r.delta_share == pytest.approx(
            r.n_delta / (r.n_base + r.n_delta), abs=0
        )
        assert r.compaction_due == (r.delta_share > 0.2 or r.n_delta_batches > 8)
        assert 0 <= r.n_delta_batches <= 2
    # batch-count arm of the trigger, independent of share
    due = SIM.ivf_staleness_report(spark, idx, max_delta_batches=1).collect()
    assert all(r.compaction_due for r in due if r.n_delta_batches > 1)


def test_ivf_compaction_preserves_search_and_restores_pruning(spark, tmp_path):
    """compact_ivf_index folds deltas into the cell layout: top-k and
    radius searches are IDENTICAL before/after, the delta log is
    retired, and every row is back under partition-pruned cell=
    directories."""
    import os

    emb = _mk_emb(spark, n=60)
    idx = str(tmp_path / "ivf")
    SIM.build_ivf_index(emb.filter(F.col("vec_id") < 30), idx, n_cells=4)
    for b in range(3):
        SIM.append_delta_to_ivf_index(
            spark, idx, emb.filter(F.col("vec_id") % 3 == b).filter(F.col("vec_id") >= 30), b
        )
    q = emb.filter(F.col("vec_id") < 5)
    before = sorted(
        map(tuple, SIM.ivf_topk_from_index(spark, idx, q, k=4, n_probe=2).collect())
    )
    rep_before = {r.cell: r for r in SIM.ivf_staleness_report(spark, idx).collect()}
    SIM.compact_ivf_index(spark, idx)
    after = sorted(
        map(tuple, SIM.ivf_topk_from_index(spark, idx, q, k=4, n_probe=2).collect())
    )
    assert before == after and len(before) > 0
    assert not os.path.exists(idx + "/corpus_delta")
    rep_after = {r.cell: r for r in SIM.ivf_staleness_report(spark, idx).collect()}
    for cell, r in rep_after.items():
        b = rep_before.get(cell)
        assert r.n_delta == 0 and not r.compaction_due
        assert r.n_base == (b.n_base + b.n_delta if b else r.n_base)
    # compaction is idempotent when there is nothing to fold
    SIM.compact_ivf_index(spark, idx)
    assert sorted(
        map(tuple, SIM.ivf_topk_from_index(spark, idx, q, k=4, n_probe=2).collect())
    ) == after


def test_recall_report_exhaustive_probe_is_perfect(spark):
    """With n_probe == n_cells the IVF probe is exhaustive, so every
    query's recall must be exactly 1.0."""
    emb = _mk_emb(spark, n=40, d=8, seed=11)
    rep = SIM.recall_report(
        emb, emb.filter(F.col("vec_id") < 6), k=4, n_cells=4, n_probe=4
    ).collect()
    assert len(rep) == 6
    for r in rep:
        assert r.n_exact == 4 and r.n_hit == 4 and r.recall == 1.0


def test_recall_report_bounded_and_counts_consistent(spark):
    """Partial probes: 0 <= n_hit <= n_exact <= k, recall is the exact
    ratio, and EVERY query appears (zero-recall queries included via
    the left join)."""
    emb = _mk_emb(spark, n=60, d=8, seed=5)
    rep = SIM.recall_report(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_cells=8, n_probe=1
    ).collect()
    assert {r.query_id for r in rep} == set(range(10))
    for r in rep:
        assert 0 <= r.n_hit <= r.n_exact <= 5
        assert r.recall == r.n_hit / r.n_exact
    # n_probe=1 over 8 cells should NOT be perfect everywhere on
    # random data — otherwise the report can't distinguish probes
    assert any(r.n_hit < r.n_exact for r in rep)


def test_recall_curve_monotone_and_exhaustive_anchor(spark):
    """ss13's contract: recall is non-decreasing in n_probe (depth p's
    candidate set contains depth p-1's) and hits exactly 1.0 when
    every cell is probed; counts are internally consistent and every
    requested depth emits exactly one row."""
    emb = _mk_emb(spark, n=60, d=8, seed=5)
    rows = sorted(
        SIM.recall_curve(
            emb, emb.filter(F.col("vec_id") < 10), k=5, n_cells=8,
            probes=(1, 2, 4, 8),
        ).collect(),
        key=lambda r: r.n_probe,
    )
    assert [r.n_probe for r in rows] == [1, 2, 4, 8]
    hits = [r.n_hit for r in rows]
    assert hits == sorted(hits)  # monotone in probe depth
    for r in rows:
        assert r.n_queries == 10
        assert 0 <= r.n_hit <= r.n_exact == 50
        assert r.recall == round(r.n_hit / r.n_exact, 6)
    assert rows[-1].recall == 1.0  # full probe == exhaustive
    # a partial probe must lose something on random data, or the
    # curve can't distinguish depths
    assert rows[0].n_hit < rows[0].n_exact


def test_recall_curve_agrees_with_recall_report(spark):
    """Each curve point must equal the aggregate of ss12's per-query
    report at the same (n_cells, n_probe) — one pass for the curve is
    an optimization, never a different measurement."""
    emb = _mk_emb(spark, n=60, d=8, seed=7)
    q = emb.filter(F.col("vec_id") < 8)
    curve = {
        r.n_probe: (r.n_hit, r.n_exact)
        for r in SIM.recall_curve(
            emb, q, k=4, n_cells=4, probes=(1, 2, 4)
        ).collect()
    }
    for p in (1, 2, 4):
        rep = SIM.recall_report(
            emb, q, k=4, n_cells=4, n_probe=p
        ).collect()
        assert curve[p] == (
            sum(r.n_hit for r in rep),
            sum(r.n_exact for r in rep),
        ), p


def test_ivf_pq_exhaustive_probe_equals_plain_pq(spark):
    """ss14's degeneracy contract: with n_probe == n_cells the IVF
    pruning admits every candidate, so IVF-PQ must equal plain PQ ADC
    row for row — the composition changes I/O, never the math."""
    emb = _mk_emb(spark, n=50, d=8, seed=3)
    q = emb.filter(F.col("vec_id") < 6)
    a = sorted(
        map(
            tuple,
            SIM.ivf_pq_topk(
                emb, q, k=4, n_cells=4, n_probe=4, n_subspaces=2, n_codes=8
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            SIM.pq_topk(emb, q, k=4, n_subspaces=2, n_codes=8).collect(),
        )
    )
    assert a == b and a


def test_ivf_pq_partial_probe_is_subset_of_probed_cells(spark):
    """With a partial probe every returned neighbor must live in one
    of the query's probed cells — the pruning actually prunes."""
    emb = _mk_emb(spark, n=60, d=8, seed=9)
    q = emb.filter(F.col("vec_id") < 5)
    out = SIM.ivf_pq_topk(
        emb, q, k=5, n_cells=6, n_probe=2, n_subspaces=2, n_codes=8
    ).collect()
    assert out
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.similarity import (
        _ivf_assign, _ivf_centroids, _normalize,
    )
    nn = _normalize(emb, "vec_id", "embedding")
    cents = _ivf_centroids(nn, 6, 42)
    ccell = {r.id: r.cell for r in _ivf_assign(nn, cents, 1).collect()}
    qcells = {}
    for r in _ivf_assign(nn, cents, 2).filter(F.col("id") < 5).collect():
        qcells.setdefault(r.id, set()).add(r.cell)
    for r in out:
        assert ccell[r.neighbor_id] in qcells[r.query_id], r


def test_semdedup_groups_only_within_cells_and_keeps_min(spark):
    """semdedup's contract: duplicate components form ONLY within a
    quantizer cell; every component keeps exactly its min id; raising
    the threshold never drops MORE docs (monotonicity)."""
    emb = _mk_emb(spark, n=80, d=8, seed=21)
    out = {r.id: r for r in DD.semdedup(emb, n_cells=4, threshold=0.3).collect()}
    assert len(out) == 80
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.similarity import (
        _ivf_assign, _ivf_centroids, _normalize,
    )
    nn = _normalize(emb, "vec_id", "embedding")
    cells = {
        r.id: r.cell
        for r in _ivf_assign(nn, _ivf_centroids(nn, 4, 42), 1).collect()
    }
    for r in out.values():
        assert r.keep == (r.id == r.cluster_id)
        # the representative lives in the same cell as its member
        assert cells[r.id] == cells[r.cluster_id], r
        # min-id representative: no member smaller than its cluster id
        assert r.cluster_id <= r.id
    kept_03 = sum(1 for r in out.values() if r.keep)
    kept_06 = sum(
        1 for r in DD.semdedup(emb, n_cells=4, threshold=0.6).collect() if r.keep
    )
    assert kept_06 >= kept_03


def test_semdedup_default_cells_scale_with_corpus(spark):
    """VERDICT r10: a fixed n_cells=8 default silently gives a
    near-quadratic within-cell pair search on a large corpus. The
    default (n_cells=None) now derives max(8, ceil(sqrt(n))) from a
    one-pass count, so the expected candidate bound tracks ~n^1.5."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.dedup import _semdedup_default_cells

    assert _semdedup_default_cells(0) == 8
    assert _semdedup_default_cells(1) == 8
    assert _semdedup_default_cells(64) == 8
    assert _semdedup_default_cells(100) == 10
    assert _semdedup_default_cells(101) == 11
    assert _semdedup_default_cells(1_000_000) == 1000
    assert _semdedup_default_cells(100_000_000_000) == 316228

    # the default path runs end-to-end and matches an explicit call
    # with the derived cell count (80 rows -> ceil(sqrt(80)) = 9)
    emb = _mk_emb(spark, n=80, d=8, seed=21)
    auto = {tuple(r) for r in DD.semdedup(emb, threshold=0.3).collect()}
    explicit = {
        tuple(r) for r in DD.semdedup(emb, n_cells=9, threshold=0.3).collect()
    }
    assert auto == explicit and len(auto) == 80


def test_semdedup_hand_computed_component(spark):
    """Three near-identical vectors + one orthogonal: the trio
    collapses to its min id, the loner keeps itself."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.01]),
        (2, [1.0, 0.01, 0.0, 0.0]),
        (5, [0.99, 0.0, 0.01, 0.0]),
        (9, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    # n_cells=1: a single cell removes the (tiny-n) sensitivity of
    # which corpus vectors the md5 sample picks as centroids — the
    # pair search sees all four, so only the cosine threshold decides
    got = {
        r.id: (r.cluster_id, r.keep)
        for r in DD.semdedup(emb, n_cells=1, threshold=0.9).collect()
    }
    assert got[1] == (1, True)
    assert got[2] == (1, False)
    assert got[5] == (1, False)
    # the orthogonal vector is below threshold to everything
    assert got[9] == (9, True)


def test_winnowing_guarantee_and_density(spark):
    """Winnowing's core guarantee (Schleimer et al. SIGMOD'03): any
    substring shared between two docs of length >= k + w - 1 yields at
    least one SHARED selected fingerprint, at ~2/(w+1) storage. The
    shared span here sits at DIFFERENT offsets in each doc — the
    position-robustness fixed-stride sampling lacks."""
    shared = "xqzjvkwpfyghmbtrlcdn"  # 20 chars >= k + w - 1 = 11
    d1 = "aaaa bbbb cccc " + shared + " dddd eeee"
    d2 = "totally other prefix words here " + shared
    docs = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    fp = DD.winnow_fingerprints(docs, k=8, w=4)
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.id, set()).add(r.h)
    assert by_doc[1] & by_doc[2], "shared span must share a fingerprint"
    # density: selected distinct positions well below total gram count
    n_grams_1 = len(d1) - 7
    sel_1 = len([r for r in rows if r.id == 1])
    assert sel_1 < n_grams_1
    assert sel_1 >= 2 * n_grams_1 // (4 + 1) // 2  # loose lower sanity


def test_winnowing_short_doc_fallback(spark):
    """A doc with fewer than w grams keeps its single global min
    (window start clamps to 1); a doc shorter than k selects nothing."""
    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abc")], "doc_id long, text string"
    )
    fp = DD.winnow_fingerprints(docs, k=8, w=4).collect()
    assert len([r for r in fp if r.id == 1]) == 1  # 3 grams < w -> 1 pick
    assert len([r for r in fp if r.id == 2]) == 0  # shorter than k


def test_winnowing_rightmost_tie_rule(spark):
    """Equal hashes inside one window resolve to the RIGHTMOST
    position (min over struct(h, -pos)) — the MOSS convention. A text
    of one repeated character makes every gram hash identical, so the
    selected positions are exactly the last window slot(s)."""
    docs = spark.createDataFrame([(1, "a" * 15)], "doc_id long, text string")
    fp = DD.winnow_fingerprints(docs, k=8, w=4).collect()
    # 8 grams, 5 valid window starts (pos 1..5), all hashes equal ->
    # each window picks its rightmost slot: start p picks pos p+3
    assert sorted(r.pos for r in fp) == [4, 5, 6, 7, 8]
    assert len({r.h for r in fp}) == 1


def test_winnow_pairs_hot_fingerprint_guard(spark):
    """Fingerprints carried by more than max_fp_df docs are dropped
    BEFORE the pair join — boilerplate shared by everything can't
    blow up the inverted-index fan-out."""
    boiler = "this boilerplate footer appears everywhere in the corpus"
    rows = [(i, f"unique{'x' * i}padding word soup {i} " + boiler) for i in range(1, 6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    import math as _math

    open_pairs = DD.winnow_pairs(docs, k=8, w=4, min_shared=1, max_fp_df=_math.inf)
    assert open_pairs.count() == 10  # all C(5,2) pairs share the footer
    # df cap 1: no fingerprint carried by 2+ docs may enter the join,
    # so the pair report is empty BY CONSTRUCTION regardless of which
    # grams winnowing happened to select per doc
    guarded = DD.winnow_pairs(docs, k=8, w=4, min_shared=1, max_fp_df=1)
    assert guarded.count() == 0
    # intermediate cap: strictly fewer pairs than the unguarded run,
    # and every surviving pair exists unguarded too
    mid = DD.winnow_pairs(docs, k=8, w=4, min_shared=1, max_fp_df=3)
    open_set = {(r.doc_a, r.doc_b) for r in open_pairs.collect()}
    mid_rows = mid.collect()
    assert len(mid_rows) < 10
    assert {(r.doc_a, r.doc_b) for r in mid_rows} <= open_set


def test_winnow_default_fp_df_derivation():
    """max(50, ceil(sqrt(n))): 50 floors the small-corpus range, the
    cap grows as sqrt past 2500 docs (the dd15 n_cells precedent)."""
    assert DD._winnow_default_fp_df(0) == 50
    assert DD._winnow_default_fp_df(1) == 50
    assert DD._winnow_default_fp_df(2500) == 50
    assert DD._winnow_default_fp_df(2501) == 51
    assert DD._winnow_default_fp_df(10**6) == 1000


def test_winnow_pairs_auto_cap_equals_explicit(spark):
    """The derived default (n=5 -> floor 50) is bit-identical to
    passing the same cap explicitly — auto-scaling changes the
    DEFAULT, never the semantics of a pinned value."""
    rows = [(i, f"unique{'x' * i}padding word soup number {i} here") for i in range(1, 6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    auto = DD.winnow_pairs(docs, k=8, w=4, min_shared=1)
    explicit = DD.winnow_pairs(docs, k=8, w=4, min_shared=1, max_fp_df=50)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_winnow_pairs_boilerplate_skew_bounded(spark):
    """A boilerplate span shared by 10^3 docs (df = 1000 >> the
    derived cap of 50) is dropped BEFORE the pair join, so the join
    input stays sum(df^2)-bounded at the cap instead of fanning out
    C(1000,2) pairs from one hot fingerprint."""
    boiler = " the standard footer every page carries verbatim always"
    rows = [(i, f"doc{i}head{'y' * (i % 7)}" + boiler) for i in range(1, 1001)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # the hot fingerprint really exists: some selected hash has df=1000
    fp = DD.winnow_fingerprints(docs, k=8, w=4).select("id", "h").distinct()
    max_df = (
        fp.groupBy("h").count().agg(F.max("count").alias("m")).collect()[0].m
    )
    assert max_df == 1000
    # derived cap = max(50, ceil(sqrt(1000))) = 50 -> every shared-by-
    # all fingerprint is dropped; only sub-cap fingerprints may join
    pairs = DD.winnow_pairs(docs, k=8, w=4, min_shared=1)
    got = pairs.count()
    # upper bound: sum over SURVIVING (df <= cap) fingerprints of
    # C(df,2) — the hot fingerprint's C(1000,2) never enters
    df_counts = fp.groupBy("h").count().filter(F.col("count") <= 50).collect()
    bound = sum(r["count"] * (r["count"] - 1) // 2 for r in df_counts)
    assert got <= bound < 1000 * 999 // 2


def test_winnowing_guarantee_randomized(spark):
    """Property pin of THE winnowing theorem (Schleimer et al. §3):
    for ANY two documents sharing a substring of length >= k + w - 1,
    the selected fingerprint sets intersect. Random word-soup docs
    with a random shared span planted at random offsets on both
    sides."""
    import numpy as np

    rng = np.random.RandomState(1234)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    k, w = 8, 4
    need = k + w - 1  # 11 chars

    cases = []
    for t in range(12):
        span_len = rng.randint(need, need + 30)
        span = "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), size=span_len))
        d1 = " ".join(rng.choice(vocab, size=rng.randint(0, 12))) + " " + span + " " + " ".join(
            rng.choice(vocab, size=rng.randint(0, 12))
        )
        d2 = " ".join(rng.choice(vocab, size=rng.randint(0, 20))) + " " + span
        cases.append((2 * t, d1.strip()))
        cases.append((2 * t + 1, d2.strip()))
    docs = spark.createDataFrame(cases, "doc_id long, text string")
    fp = DD.winnow_fingerprints(docs, k=k, w=w)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.id, set()).add(r.h)
    for t in range(12):
        assert by_doc.get(2 * t, set()) & by_doc.get(2 * t + 1, set()), (
            f"case {t}: planted span produced no shared fingerprint"
        )


def test_minhash_calibration_report_fixed_point_exact(spark):
    """Calibration table arithmetic: exact duplicates land in the
    n_equal = n_hashes bucket with mean_exact_jaccard 1.0 and zero
    error; every bucket's fixed-point means equal a driver-side
    recomputation from the raw candidate pairs (the BIGINT-sum
    contract — no engine-order double drift)."""
    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        2: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        3: "alpha beta gamma delta epsilon zeta eta theta lambda mu",
        4: "completely different words nothing shared here at all today",
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    rep = {
        r.n_equal: r
        for r in DD.minhash_calibration_report(docs, bands=8, n_hashes=16).collect()
    }
    assert 16 in rep  # the exact-dup pair (1,2)
    assert rep[16].est_jaccard == 1.0
    assert rep[16].mean_exact_jaccard == 1.0
    assert rep[16].mean_abs_err == 0.0
    # recompute every bucket from the raw verified pairs
    pairs = DD.minhash_lsh_pairs(docs, 8, 16, verify_threshold=0.0).collect()
    sig = {r.id: [r[f"mh{i}"] for i in range(16)] for r in
           DD.minhash_signatures(docs).collect()}
    buckets = {}
    for p in pairs:
        eq = sum(1 for i in range(16) if sig[p.id1][i] == sig[p.id2][i])
        jm = int(p.jaccard * 1_000_000 + 0.5)
        em = (eq * 1_000_000) // 16
        buckets.setdefault(eq, []).append((jm, abs(em - jm)))
    assert set(buckets) == set(rep)
    for eq, vals in buckets.items():
        n = len(vals)
        assert rep[eq].n_pairs == n
        assert rep[eq].mean_exact_jaccard == round(
            sum(v[0] for v in vals) / (n * 1_000_000.0), 6
        )
        assert rep[eq].mean_abs_err == round(
            sum(v[1] for v in vals) / (n * 1_000_000.0), 6
        )


def test_dedup_savings_report_hand_computed(spark):
    """dd18: the ROI row on a corpus with known duplicate structure —
    'aaaa' x3 (len 4), 'bb' x2 (len 2), 'cccccc' x1 (len 6), NULL x1
    (len 0). Keeper policy retains one copy per distinct text, so
    bytes_kept = 4 + 2 + 6 + 0 = 12 of bytes_total = 22."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.dedup import (
        dedup_savings_report,
    )

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaaa"), (3, "aaaa"), (4, "bb"), (5, "bb"),
         (6, "cccccc"), (7, None)],
        "doc_id long, text string",
    )
    r = dedup_savings_report(docs).collect()[0]
    assert r.n_docs == 7 and r.n_distinct == 4 and r.n_dup_docs == 3
    assert r.bytes_total == 4 * 3 + 2 * 2 + 6 + 0 == 22
    assert r.bytes_kept == 12 and r.bytes_saved == 10
    assert r.dup_ratio == round(3 / 7, 6)
    assert r.bytes_saved_ratio == round(10 / 22, 6)
    # dedup-free corpus: zero savings, ratios 0.0 (not NULL/NaN)
    clean = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, text string")
    c = dedup_savings_report(clean).collect()[0]
    assert c.n_dup_docs == 0 and c.bytes_saved == 0
    assert c.dup_ratio == 0.0 and c.bytes_saved_ratio == 0.0
