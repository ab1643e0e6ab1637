import pytest
from pyspark.sql import functions as F

from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import graph as G


@pytest.fixture(scope="module")
def tables(spark):
    items = spark.createDataFrame(
        [("i1", ["act:a", "act:b"], "dir:x"), ("i2", ["act:b"], None), ("i3", None, "dir:x")],
        "item_id string, starring array<string>, director string",
    )
    users = spark.createDataFrame(
        [("u1", "eng"), ("u2", "doc"), ("u3", None)], "user_id string, occupation string"
    )
    ratings = spark.createDataFrame(
        [
            ("u1", "i1", 5.0, 1.0),
            ("u1", "i1", 2.0, 9.0),   # duplicate pair: later ts wins -> rating 2
            ("u2", "i2", 4.0, 2.0),
            ("u9", "i1", 3.0, 3.0),   # dangling user -> dropped
            ("u1", "i9", 3.0, 4.0),   # dangling item -> dropped
        ],
        "user_id string, item_id string, rating double, timestamp double",
    )
    social = spark.createDataFrame(
        [("u1", "u2"), ("u2", "u1"), ("u1", "u9"), ("u3", "u3")],
        "user1 string, user2 string",
    )
    return items, users, ratings, social


@pytest.fixture(scope="module")
def g(tables):
    items, users, ratings, social = tables
    return G.build_graph(
        items,
        users,
        ratings,
        social=social,
        item_property_cols=["starring", "director"],
        user_property_cols=["occupation"],
    )


def test_rating_edges_semi_join_and_dedup(g):
    rated = g.edges.filter(F.col("edge_type") == "rated").collect()
    pairs = {(r.src, r.dst): r.rating for r in rated}
    assert ("user::u9", "item::i1") not in pairs
    assert ("user::u1", "item::i9") not in pairs
    assert pairs[("user::u1", "item::i1")] == 2.0  # keep-last by ts
    assert len(pairs) == 2


def test_property_fanout_and_identity(g):
    props = g.edges.filter(F.col("edge_type") == "has_property")
    # i1 starring 2 + director 1; i2 starring 1; i3 director 1; users 2 occ
    assert props.count() == 7
    # property node identity includes the property type
    nodes = {r.node_id for r in g.nodes.collect()}
    assert "property:starring:act:b" in nodes
    assert "property:director:dir:x" in nodes


def test_social_undirected_collapse(g):
    social = g.edges.filter(F.col("edge_type") == "social").collect()
    assert len(social) == 1  # (u1,u2)+(u2,u1) collapse; u9 dangling; self-loop dropped
    assert (social[0].src, social[0].dst) == ("user::u1", "user::u2")


def test_triples_relations(g):
    t = {(r.head, r.relation, r.tail) for r in G.triples(g, "all").collect()}
    assert ("user::u1", "rating2.0", "item::i1") in t
    assert ("item::i1", "has", "property:starring:act:a") in t
    assert ("user::u1", "is", "property:occupation:eng") in t
    assert ("user::u1", "friends_with", "user::u2") in t
    ratings_only = G.triples(g, "ratings")
    assert ratings_only.count() == 2


def test_graph_summary(g):
    rows = {r.kind: r["count"] for r in G.graph_summary(g).collect()}
    assert rows["nodes:item"] == 3
    assert rows["nodes:user"] == 3
    assert rows["edges:rated"] == 2


def test_relabel_dense(g):
    m = G.relabel_nodes(g.nodes).collect()
    ids = sorted(r.int_id for r in m)
    assert ids == list(range(len(m)))


def test_kcore_early_stop_and_cascade(spark):
    rows = [("u1", f"i{j}", 1.0) for j in range(5)] + [("u2", "i0", 1.0)]
    r = spark.createDataFrame(rows, "user_id string, item_id string, rating double")
    out = G.filter_kcore(r, k=3, target="user", iterations=5)
    users = {x.user_id for x in out.collect()}
    assert users == {"u1"}
    # iterating an already-stable core changes nothing (early stop)
    out2 = G.filter_kcore(out, k=3, target="user", iterations=3)
    assert out2.count() == out.count()


def test_pagerank_matches_hand_rolled(spark):
    """Undirected triangle + pendant: compare against a plain python
    power iteration with identical update rule."""
    und = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    edges = spark.createDataFrame(
        und + [(d, s) for s, d in und], "src string, dst string"
    )
    got = {r.node: r.pr for r in G.pagerank(edges, iterations=4).collect()}

    nodes = sorted({x for e in und for x in e})
    out = {n: 0 for n in nodes}
    adj = {n: [] for n in nodes}
    for s, d in und + [(d, s) for s, d in und]:
        out[s] += 1
        adj[d].append(s)
    pr = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(4):
        nxt = {}
        for v in nodes:
            s = 0.0
            for u in sorted(adj[v]):  # pinned src order, like exact_order
                s += pr[u] / out[u]
            nxt[v] = (1.0 - 0.85) / len(nodes) + 0.85 * s
        pr = nxt
    assert set(got) == set(nodes)
    for n in nodes:
        assert got[n] == pr[n], (n, got[n], pr[n])  # bit-identical fold
    assert abs(sum(got.values()) - 1.0) < 1e-9  # no dangling: mass conserved
    # degree order: c (deg 3) > a,b (2) > d (1)
    assert got["c"] > got["a"] == got["b"] > got["d"]


def test_pagerank_exact_order_matches_plain_sum_approximately(spark):
    und = [("a", "b"), ("b", "c"), ("a", "c")]
    edges = spark.createDataFrame(
        und + [(d, s) for s, d in und], "src string, dst string"
    )
    exact = {r.node: r.pr for r in G.pagerank(edges, iterations=3).collect()}
    fast = {
        r.node: r.pr
        for r in G.pagerank(edges, iterations=3, exact_order=False).collect()
    }
    for n in exact:
        assert abs(exact[n] - fast[n]) < 1e-12


def test_label_propagation_two_cliques(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import graph as G
    # two triangles joined by nothing -> two communities, each labeled
    # by its smallest member
    tri1 = [("a", "b"), ("b", "c"), ("a", "c")]
    tri2 = [("x", "y"), ("y", "z"), ("x", "z")]
    e0 = spark.createDataFrame(tri1 + tri2, "src string, dst string")
    edges = e0.union(e0.selectExpr("dst as src", "src as dst"))
    out = {r.node: r.community for r in G.label_propagation(edges, 3).collect()}
    assert len({out["a"], out["b"], out["c"]}) == 1
    assert len({out["x"], out["y"], out["z"]}) == 1
    assert out["a"] != out["x"]


@pytest.mark.slow
def test_aggregate_messages_degree_and_pregel_pagerank(spark):
    """The GraphX-primitive layer: aggregateMessages computes degrees;
    a pregel-expressed PageRank matches the dedicated pagerank
    operator value-for-value (same fixed budget, map-side sum)."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import graph as G
    from pyspark.sql import functions as F

    e0 = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], "src string, dst string"
    )
    edges = e0.union(e0.selectExpr("dst as src", "src as dst")).distinct()

    # in-degree via aggregateMessages (msg = 1, agg = sum)
    verts = edges.select(F.col("src").alias("node")).distinct()
    deg = {
        r.node: r.msg_agg
        for r in G.aggregate_messages(
            edges, verts, lambda j: F.lit(1), lambda c: F.sum(c)
        ).collect()
    }
    want = {
        r.dst: r.n
        for r in edges.groupBy("dst").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert deg == want

    # pagerank as a pregel program
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    outdeg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    init = nodes.join(outdeg, "node").select(
        "node", F.lit(1.0 / n).alias("pr"), "outdeg"
    )
    damping, base = 0.85, (1.0 - 0.85) / n

    def update(vertices, msgs):
        return (
            vertices.join(msgs, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.lit(damping) * F.coalesce(F.col("msg_agg"), F.lit(0.0))).alias("pr"),
                "outdeg",
            )
        )

    got = G.pregel(
        edges,
        init,
        msg=lambda j: F.col("pr") / F.col("outdeg"),
        agg=lambda c: F.sum(c),
        update=update,
        iterations=3,
    )
    want_pr = {
        r.node: r.pr
        for r in G.pagerank(edges, iterations=3, exact_order=False).collect()
    }
    got_pr = {r.node: r.pr for r in got.collect()}
    assert set(got_pr) == set(want_pr)
    for k in got_pr:
        assert abs(got_pr[k] - want_pr[k]) < 1e-12


@pytest.mark.slow
def test_personalized_pagerank_matches_hand_rolled(spark):
    """PPR vs a hand-rolled power iteration: teleport mass goes only
    to the seeds; non-seed unreachable nodes end at 0."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.graph import personalized_pagerank

    e = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("d", "a")]
    edges = spark.createDataFrame(e, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r.node: r.pr
        for r in personalized_pagerank(edges, seeds, iterations=4, damping=0.85).collect()
    }

    nodes = sorted({x for p in e for x in p})
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    tele = {n: (1.0 if n == "a" else 0.0) for n in nodes}
    pr = dict(tele)
    for _ in range(4):
        nxt = {n: 0.15 * tele[n] for n in nodes}
        for s, d in e:
            nxt[d] += 0.85 * pr[s] / outdeg[s]
        pr = nxt
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] - pr[n]) < 1e-12, n
    # 'd' (unreachable, non-seed) gets no mass at all
    assert got["d"] == 0.0


def test_personalized_pagerank_requires_seeds(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    empty = spark.createDataFrame([], "node string")
    with pytest.raises(ValueError):
        personalized_pagerank(edges, empty)


def test_co_rating_pairs_hand_computed(spark):
    """(a)-[rated]->(i)<-[rated]-(b) motif counts on a toy graph:
    u1,u2 share {i1,i2}; u1,u3 share {i1}; u2,u3 share {i1}."""
    r = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (2, 20), (3, 10)],
        "user_id bigint, item_id bigint",
    )
    got = {
        (row.user_a, row.user_b): row.n_common
        for row in G.co_rating_pairs(r).collect()
    }
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 1}


def test_co_rating_pairs_orders_and_dedups(spark):
    """Pairs come out user_a < user_b exactly once, and duplicate
    interaction rows don't inflate counts."""
    r = spark.createDataFrame(
        [(5, 1), (5, 1), (2, 1), (2, 1)], "user_id bigint, item_id bigint"
    )
    rows = G.co_rating_pairs(r).collect()
    assert len(rows) == 1
    assert (rows[0].user_a, rows[0].user_b, rows[0].n_common) == (2, 5, 1)


def test_co_rating_pairs_hub_items_dropped(spark):
    """Items above max_item_degree contribute NO pairs (the stop-word
    rule that bounds the self-join at |I|*cap^2)."""
    # hub item 99 rated by 4 users; niche item 7 by 2 of them
    rows = [(u, 99) for u in range(4)] + [(0, 7), (1, 7)]
    r = spark.createDataFrame(rows, "user_id bigint, item_id bigint")
    got = {
        (row.user_a, row.user_b): row.n_common
        for row in G.co_rating_pairs(r, max_item_degree=3).collect()
    }
    assert got == {(0, 1): 1}  # only the niche item pairs anyone
    # with the cap lifted, the hub pairs everyone with everyone
    full = G.co_rating_pairs(r, max_item_degree=10).collect()
    assert len(full) == 6  # C(4,2)


def test_co_rating_pairs_skew_stress_bound(spark):
    """Adversarial skew (VERDICT r09 item 6): a hub item with degree
    far above the cap must contribute ZERO pairs, and the total pair
    count must respect the docstring's |I|*cap^2 bound — exercised,
    not argued. 500 users on one hub (cap 8 -> naive C(500,2) =
    124,750 pairs), plus 40 niche items of degree 2."""
    hub = [(u, 9999) for u in range(500)]
    # niche item i is rated by users (2i, 2i+1) — disjoint pairs
    niche = [(2 * i + off, i) for i in range(40) for off in (0, 1)]
    r = spark.createDataFrame(
        hub + niche, "user_id bigint, item_id bigint"
    )
    got = G.co_rating_pairs(r, max_item_degree=8).collect()
    # bound: 40 kept items, each deg<=8 -> <= 40 * C(8,2); actual = 40
    assert len(got) == 40
    assert len(got) <= 40 * 28
    pairs = {(row.user_a, row.user_b) for row in got}
    assert pairs == {(2 * i, 2 * i + 1) for i in range(40)}
    assert all(row.n_common == 1 for row in got)
    # the physical plan keeps the equi-join: no cartesian product
    plan = G.co_rating_pairs(r, max_item_degree=8)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan


@pytest.mark.slow
def test_co_rating_pairs_join_output_guard(spark):
    """VERDICT r12 item 5: the dq7 join-cardinality pre-flight wired
    INTO the operator. A synthetic hot key — one item whose degree
    survives max_item_degree but whose C(d,2) pair output exceeds
    max_join_output — must trip the guard BEFORE any pair is built;
    the error names the hot degree and a max_item_degree that fits.
    Within the bound the guard is invisible: results identical to the
    unguarded call; the default (None) adds no job at all."""
    import pytest

    # one hot item with degree 50 (C(50,2) = 1225 pairs) + 5 niche
    rows = [(u, 1) for u in range(50)] + [(2 * i, 100 + i) for i in range(5)] + [
        (2 * i + 1, 100 + i) for i in range(5)
    ]
    r = spark.createDataFrame(rows, "user_id bigint, item_id bigint")
    with pytest.raises(ValueError, match="max_join_output=1000") as exc:
        G.co_rating_pairs(r, max_item_degree=64, max_join_output=1000)
    msg = str(exc.value)
    assert "1230" in msg  # exact prediction: 1225 hot + 5 niche
    assert "degree 50" in msg
    # a fitting bound passes and matches the unguarded result exactly
    guarded = {
        (row.user_a, row.user_b, row.n_common)
        for row in G.co_rating_pairs(
            r, max_item_degree=64, max_join_output=2000
        ).collect()
    }
    plain = {
        (row.user_a, row.user_b, row.n_common)
        for row in G.co_rating_pairs(r, max_item_degree=64).collect()
    }
    assert guarded == plain and len(plain) > 0
    # tightening max_item_degree (the suggested retry knob) also fits:
    # the hot item drops out, only the 5 niche pairs remain
    tight = G.co_rating_pairs(r, max_item_degree=8, max_join_output=1000)
    assert tight.count() == 5


def test_co_occurrence_pairs_hand_computed(spark):
    """co_rating's motif with roles swapped: pairs of items through a
    shared group, counted per pair; cap TRUNCATES a group to its first
    N items by item order instead of dropping the group."""
    rows = [
        (1, "a"), (1, "b"), (1, "c"),       # group 1: ab, ac, bc
        (2, "a"), (2, "b"),                 # group 2: ab
        (3, "c"),                           # singleton: no pairs
        (1, "a"),                           # duplicate -> distinct'd
    ]
    df = spark.createDataFrame(rows, "g bigint, it string")
    got = {
        (r.item_a, r.item_b): r.n_groups
        for r in G.co_occurrence_pairs(df, ["g"], "it").collect()
    }
    assert got == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}
    # truncation: cap 2 keeps each group's first 2 items by order —
    # group 1 keeps (a, b); c pairs vanish
    capped = {
        (r.item_a, r.item_b): r.n_groups
        for r in G.co_occurrence_pairs(
            df, ["g"], "it", max_items_per_group=2
        ).collect()
    }
    assert capped == {("a", "b"): 2}


@pytest.mark.slow
def test_co_occurrence_pairs_join_output_guard(spark):
    """VERDICT r13 item 5: a synthetic hot group (40 items in one
    session = C(40,2) = 780 pairs) trips max_join_output BEFORE the
    pair join, with the exact prediction and a fitting cap suggestion;
    within the bound the guard is invisible (results ≡ unguarded)."""
    import pytest

    rows = [(1, i) for i in range(40)] + [(g, 1000 + g) for g in range(2, 7)] + [
        (g, 2000 + g) for g in range(2, 7)
    ]
    df = spark.createDataFrame(rows, "g bigint, it bigint")
    with pytest.raises(ValueError, match="max_join_output=100") as exc:
        G.co_occurrence_pairs(df, ["g"], "it", max_items_per_group=64,
                              max_join_output=100)
    msg = str(exc.value)
    assert "785" in msg  # 780 hot + 5 two-item groups
    # suggested cap: Σ C(min(n,c),2) <= 100 -> c=6 gives 15+5=20; c=9
    # gives 36+5=41; c=13 gives 78+5=83 fits, c=14 gives 91+5=96 fits
    assert "<= 14" in msg
    guarded = {
        (r.item_a, r.item_b, r.n_groups)
        for r in G.co_occurrence_pairs(
            df, ["g"], "it", max_items_per_group=64, max_join_output=1000
        ).collect()
    }
    plain = {
        (r.item_a, r.item_b, r.n_groups)
        for r in G.co_occurrence_pairs(
            df, ["g"], "it", max_items_per_group=64
        ).collect()
    }
    assert guarded == plain and len(plain) == 785
    # the suggested knob actually fits
    tight = G.co_occurrence_pairs(
        df, ["g"], "it", max_items_per_group=14, max_join_output=100
    )
    assert tight.count() == 14 * 13 // 2 + 5


def test_kcore_fixpoint_hand_computed_cascade(spark):
    """A (2,2)-core where one deletion cascades: the chain graph
    loses its tail ring step by step until only the dense block
    survives."""
    # dense block: users 1,2 x items 10,11 (every degree 2)
    # tail: user 3 rates items 10,12; item 12 rated only by user 3
    rows = [(1, 10), (1, 11), (2, 10), (2, 11), (3, 10), (3, 12)]
    r = spark.createDataFrame(rows, "user_id bigint, item_id bigint")
    core, rounds, conv = G.kcore_fixpoint(r, k_item=2, k_user=2)
    assert conv
    got = {(x.user_id, x.item_id) for x in core.collect()}
    # item 12 dies (deg 1) -> user 3 dies (deg 1) -> block is stable
    assert got == {(1, 10), (1, 11), (2, 10), (2, 11)}


def test_kcore_fixpoint_drops_null_keys(spark):
    """A null user or item never matched the old semi-join's keep-list;
    the window counts must not let a block of null keys through."""
    rows = [(None, 10), (None, 10), (None, 11), (1, None), (1, None),
            (1, 10), (1, 11), (2, 10), (2, 11)]
    r = spark.createDataFrame(rows, "user_id bigint, item_id bigint")
    core, _, conv = G.kcore_fixpoint(r, k_item=2, k_user=2)
    assert conv
    assert sorted(tuple(x) for x in core.collect()) == [
        (1, 10), (1, 11), (2, 10), (2, 11)
    ]


def test_kcore_fixpoint_converged_round_is_one_action(spark):
    """An input that is already a core converges in its first round, and
    that round is one action: the user and item degree windows are one
    query (one job per shuffle stage plus the result job), with the
    termination probe riding it as an observed metric. The old
    semi-join peel spent 9 jobs here (a count, then per-round keep-list
    broadcasts and a second, verification round)."""
    rows = [(u, i) for u in range(6) for i in range(6)]
    r = spark.createDataFrame(rows, "user_id bigint, item_id bigint")
    sc = spark.sparkContext
    group = "test_kcore_converged_round"
    sc.setJobGroup(group, group)
    try:
        core, rounds, conv = G.kcore_fixpoint(r, k_item=3, k_user=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert conv and rounds == 1
    assert 1 <= len(jobs) <= 3, len(jobs)
    assert core.count() == 36


def test_kcore_fixpoint_matches_brute_force(spark):
    """The termination rule (stop once a window's least degree reaches
    its k, with no verification round) against a plain python peel on
    random graphs with duplicate edges, for the full peel and for the
    decremental one, and a long cascade that needs several rounds."""
    import random
    from collections import Counter

    def peel(rows, ki, ku):
        while True:
            di = Counter(i for _, i in rows)
            du = Counter(u for u, _ in rows)
            kept = [(u, i) for u, i in rows if di[i] >= ki and du[u] >= ku]
            if len(kept) == len(rows):
                return sorted(rows)
            rows = kept

    for seed in range(6):
        rng = random.Random(seed)
        rows = [(rng.randint(1, 20), rng.randint(1, 12)) for _ in range(90)]
        ki, ku = rng.randint(2, 4), rng.randint(2, 4)
        r = spark.createDataFrame(rows, "user_id bigint, item_id bigint")
        core, _, conv = G.kcore_fixpoint(r, k_item=ki, k_user=ku)
        assert conv and sorted(tuple(x) for x in core.collect()) == peel(rows, ki, ku)
        deleted = core.filter(F.col("user_id") % 3 == 0).select("user_id").distinct()
        inc, _, conv = G.kcore_decremental(core, deleted, k_item=ki, k_user=ku)
        assert conv and sorted(tuple(x) for x in inc.collect()) == peel(
            [x for x in rows if x[0] % 3], ki, ku
        ), seed
    # a bipartite path u0-i0-u1-i1-...-u7-i7 peels from both ends
    path = [(j, j) for j in range(8)] + [(j + 1, j) for j in range(7)]
    r = spark.createDataFrame(path, "user_id bigint, item_id bigint")
    _, rounds, conv = G.kcore_fixpoint(r, k_item=2, k_user=2, max_rounds=1)
    assert rounds == 1 and not conv
    core, rounds, conv = G.kcore_fixpoint(r, k_item=2, k_user=2)
    assert conv and rounds > 1 and core.count() == 0


@pytest.mark.slow
def test_kcore_decremental_matches_from_scratch(spark):
    """The maintenance theorem, adversarially: peeling the STALE core
    minus the deleted users must equal the from-scratch fixpoint on
    the reduced edge set — including when the deletion cascades
    through users that were NOT deleted."""
    import random

    rng = random.Random(13)
    rows = list({(rng.randint(1, 40), rng.randint(1, 25)) for _ in range(400)})
    r = spark.createDataFrame(rows, "user_id bigint, item_id bigint")
    core, _, conv = G.kcore_fixpoint(r, k_item=3, k_user=4)
    assert conv
    for mod in (3, 5):  # two different deletion sets
        deleted = core.filter(F.col("user_id") % mod == 0).select(
            "user_id"
        ).distinct()
        inc, _, c1 = G.kcore_decremental(core, deleted, k_item=3, k_user=4)
        scratch, _, c2 = G.kcore_fixpoint(
            r.filter(F.col("user_id") % mod != 0), k_item=3, k_user=4
        )
        assert c1 and c2
        assert {tuple(x) for x in inc.collect()} == {
            tuple(x) for x in scratch.collect()
        }, mod


def test_kcore_decremental_empty_deletion_is_noop(spark):
    """Deleting nothing must return the core unchanged after ONE
    verification round (the core is already a fixpoint)."""
    rows = [(u, i) for u in range(6) for i in range(6)]
    r = spark.createDataFrame(rows, "user_id bigint, item_id bigint")
    core, _, _ = G.kcore_fixpoint(r, k_item=3, k_user=3)
    none = spark.createDataFrame([], "user_id bigint")
    inc, rounds, conv = G.kcore_decremental(core, none, k_item=3, k_user=3)
    assert conv and rounds == 1
    assert {tuple(x) for x in inc.collect()} == {tuple(x) for x in core.collect()}


def test_triangle_counts_k4_plus_path(spark):
    """K4: every vertex sits in C(3,2)=3 triangles; the pendant path
    adds none. Duplicate, reversed, and self-loop edges normalize
    away."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = k4 + [(4, 5), (5, 6)] + [(2, 1), (3, 3), (1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_matches_bruteforce_random(spark):
    """Randomized pin vs an O(n^3) brute force on a deterministic
    arithmetic graph."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.graph import triangle_counts

    n = 25
    edges = [
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if (i * 31 + j * 17) % 5 == 0
    ]
    adj = set(edges)
    expected = {}
    for i in range(n):
        for j in range(i + 1, n):
            for k in range(j + 1, n):
                if (i, j) in adj and (j, k) in adj and (i, k) in adj:
                    for v in (i, j, k):
                        expected[v] = expected.get(v, 0) + 1
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == expected


def test_orient_edges_kills_hub_skew(spark):
    """The degree-orientation skew guarantee, measured: a 1000-leaf
    star's hub ends with out-degree ZERO (every edge points INTO the
    max-degree node), so the wedge stage sees sum(out_deg^2) = 0 from
    the hub instead of C(1000,2) — and the attached triangle still
    counts exactly once."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.graph import (
        orient_edges,
        triangle_counts,
    )

    hub = 0
    star = [(hub, i) for i in range(1, 1001)]
    tri = [(1, 2)]  # leaves 1,2 + hub close one triangle
    df = spark.createDataFrame(star + tri, "src long, dst long")
    out_deg = {
        r.u: r.c
        for r in orient_edges(df).groupBy("u").count().withColumnRenamed("count", "c").collect()
    }
    assert hub not in out_deg  # hub emits NO wedges
    assert max(out_deg.values()) <= 2
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {0: 1, 1: 1, 2: 1}
