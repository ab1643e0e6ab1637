"""Knowledge-graph-embedding family — SURVEY §2.8 M2-M5, §7 phase 7.

The reference trains 9 PyKEEN models over the KG's (head, relation,
tail) triples (``framework/recommender/models/*/model.py``, all
diff-identical templates of ``transE/model.py:162-192``) and scores
user->item recommendations by cosine KNN over the learned entity
embeddings (``transE/model.py:78-151``).

Spark-first split of responsibilities (SURVEY M2):
 * **Spark** builds the triples DataFrame (operators/graph.py
   ``triples``); for the sharded trainer it also joins the learned
   embeddings back to users/items with zero-fill for entities missing
   from training (M3, ``transE/model.py:111-135``) and scores the
   cosine top-k (``recommend.topk_by_cosine``);
 * **the driver** runs the actual SGD — the one deliberately
   non-distributed stage, exactly like the reference's
   pykeen-on-one-GPU step.  The driver trainer executes the triple
   lineage once: the string triples come over in one Arrow collect
   (:func:`collect_triples`, guarded by ``MAX_DRIVER_TRIPLES``) and
   are indexed there — entity/relation ids are the ranks of the
   sorted distinct names, the same ids :func:`index_entities` assigns
   in Spark for the sharded trainer, whose triples and parameters
   never leave the cluster.  pykeen/torch are not available here, so
   the 9 published scoring functions are implemented directly in
   numpy (margin ranking loss + uniform negative sampling — Bordes
   et al. 2013 and successors).  Parity target is metric-band, not
   vector equality (SURVEY §6 risk register).  The driver trainer
   already holds every entity vector, so it also scores there, as
   the reference does: ``recommend.driver_topk`` (shared with
   node2vec) is the exact cosine top-k of ``topk_by_cosine``, bit for
   bit, and Spark only receives the finished (user, item, rank) rows.
   LSH scoring still runs in Spark.

Models: transe, transh, transr, transd, rotate, distmult, complex,
rescal, tucker — registry ``KGE_MODELS`` mirrors the reference's
``model2class.py:1-42``.

RotatE/ComplEx embeddings are complex; following the reference's
``rotatE/model.py:107-110`` the **real part** feeds the KNN scorer
(M5) — a documented quirk preserved for parity.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from .recommend import (
    MAX_DRIVER_TRIPLES,
    Recommender,
    _sorted_codes,
    check_scoring,
    collect_pairs,
    driver_recommendations,
    topk_by_cosine,
    topk_by_cosine_lsh,
    zero_filled_vectors,
)

# ---------------------------------------------------------------- indexing


def index_entities(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Dense deterministic int ids for entities and relations.

    Stable across runs/partitionings (SURVEY P6: never
    monotonically_increasing_id). Entities use the two-pass
    range-bucketed rank (graph.relabel_nodes) — no single-partition
    window; relations are a handful of rows, a plain window is free.
    """
    from .graph import relabel_nodes

    ent_ids = (
        triples.select(F.explode(F.array("head", "tail")).alias("node_id"))
        .distinct()
    )
    ents = relabel_nodes(ent_ids).select(
        F.col("node_id").alias("e"), F.col("int_id").alias("idx")
    )
    rels = triples.select(F.col("relation").alias("r")).distinct().select(
        F.col("r"), (F.row_number().over(Window.orderBy("r")) - 1).alias("idx")
    )
    return ents, rels


def indexed_triples_df(
    triples: DataFrame, ents: DataFrame, rels: DataFrame
) -> DataFrame:
    """(h, r, t) dense-int triple DataFrame — the distributed form of
    the training input for :func:`train_kge_sharded`. Stays on the
    cluster.
    """
    return (
        triples.join(ents.withColumnRenamed("e", "head"), "head")
        .withColumnRenamed("idx", "h")
        .join(rels.withColumnRenamed("r", "relation"), "relation")
        .withColumnRenamed("idx", "r")
        .join(ents.withColumnRenamed("e", "tail"), "tail")
        .withColumnRenamed("idx", "t")
        .select("h", "r", "t")
    )


def collect_triples(
    triples: DataFrame, max_triples: int = MAX_DRIVER_TRIPLES
) -> tuple[np.ndarray, pa.Array, pa.Array]:
    """The driver-side hand-off to the single-node training stage
    (mirrors the reference's pykeen step,
    framework/recommender/transE/model.py): ``(idx, entities,
    relations)`` where ``idx`` is the (n, 3) int64 array of
    (h_idx, r_idx, t_idx) in the frame's own row order and
    ``entities``/``relations`` are the sorted distinct names, so
    ``entities[i]`` is the entity with id ``i``.

    The triple lineage runs once: the frame is persisted for the call,
    counted by an observation on the job that fills the cache (a
    ``count()`` would add a cache stage and an exchange: three jobs),
    collected as Arrow string columns from the cache, and indexed here
    with the ids :func:`index_entities` would assign.
    Triples with a null head, relation or tail are dropped, as the
    inner joins of :func:`indexed_triples_df` drop them.

    Guarded: raises before any collect if the triple set exceeds
    ``max_triples`` — the single-node SGD stage is for reference-scale
    graphs. At 100 TB, use :func:`train_kge_sharded` instead: triples
    AND parameters stay DataFrames (per-partition local SGD over
    equi-joined parameter slices, deltas summed and joined back
    Spark-side) — nothing parameter-sized touches the driver, and
    scoring runs in Spark from the final entity-vector DataFrame.
    """
    from .graph import observed_metrics

    t = triples.select("head", "relation", "tail").na.drop().persist()
    try:
        obs = Observation()
        t.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite"
        ).save()
        n_obs = observed_metrics(obs).get("n", 0)
        if n_obs > max_triples:
            raise ValueError(
                f"refusing to collect {n_obs:,} triples to the driver "
                f"(cap {max_triples:,}): the single-node KGE SGD stage is for "
                "reference-scale graphs. For larger graphs use "
                "train_kge_sharded (KGERecommender(trainer='sharded')): the "
                "triples AND the parameter tables live on the cluster — "
                "nothing parameter-sized ever touches the driver, and the "
                "entity vectors are scored in Spark."
            )
        tbl = t.toArrow()
    finally:
        t.unpersist()
    n = tbl.num_rows
    heads, tails = tbl.column("head"), tbl.column("tail")
    ents, e = _sorted_codes(pa.chunked_array(heads.chunks + tails.chunks, heads.type))
    rels, r = _sorted_codes(tbl.column("relation"))
    idx = np.stack([e[:n], r, e[n:]], axis=1).astype(np.int64)
    return idx, ents, rels


# ------------------------------------------------------------ numpy models


class _KGEModel:
    """Margin-ranking SGD over a scoring function f (lower = better).

    L = max(0, margin + f(pos) - f(neg)), negatives by corrupting head
    or tail uniformly (Bordes et al. 2013 protocol). Subclasses
    implement ``f(h, r, t)`` and ``step(h, r, t, coeff, lr)`` which
    applies ``coeff * lr * dL/dparam`` for the given triple batch.
    """

    complex_entities = False

    def __init__(self, n_ent: int, n_rel: int, dim: int, rng: np.random.Generator):
        self.n_ent, self.n_rel, self.dim = n_ent, n_rel, dim
        self.rng = rng
        s = 6.0 / np.sqrt(dim)
        if self.complex_entities:
            self.E = (
                rng.uniform(-s, s, (n_ent, dim)) + 1j * rng.uniform(-s, s, (n_ent, dim))
            )
        else:
            self.E = rng.uniform(-s, s, (n_ent, dim))
        self._init_rel(s)

    def _init_rel(self, s: float):
        self.R = self.rng.uniform(-s, s, (self.n_rel, self.dim))

    def normalize(self):
        """Project entity embeddings back onto the unit ball (the
        standard constraint of the translational family)."""
        n = np.abs(self.E) if self.complex_entities else self.E
        norms = np.linalg.norm(n, axis=1, keepdims=True)
        np.divide(self.E, np.maximum(norms, 1.0), out=self.E)

    def f(self, h, r, t) -> np.ndarray:  # pragma: no cover - abstract
        raise NotImplementedError

    def step(self, h, r, t, coeff, lr):  # pragma: no cover - abstract
        raise NotImplementedError

    # -- shared scatter-update helper (np.add.at handles dup indices);
    # per-row gradient-norm clipping keeps every model stable at one lr
    CLIP = 1.0

    def _upd(self, table, idx, grad, lr):
        axes = tuple(range(1, grad.ndim))
        norms = np.sqrt(np.sum(np.abs(grad) ** 2, axis=axes, keepdims=True))
        grad = grad * np.minimum(1.0, self.CLIP / np.maximum(norms, 1e-12))
        np.add.at(table, idx, -lr * grad)

    def entity_vectors(self) -> np.ndarray:
        """Real-valued vectors for the KNN scorer; complex models
        export the real part (M5, rotatE/model.py:107-110)."""
        return np.real(self.E).astype(np.float64)


class TransE(_KGEModel):
    """f = ||h + r - t||^2  (Bordes et al. 2013, squared-L2 variant)."""

    def f(self, h, r, t):
        e = self.E[h] + self.R[r] - self.E[t]
        return np.sum(e * e, axis=1)

    def step(self, h, r, t, coeff, lr):
        g = 2.0 * (self.E[h] + self.R[r] - self.E[t]) * coeff[:, None]
        self._upd(self.E, h, g, lr)
        self._upd(self.R, r, g, lr)
        self._upd(self.E, t, -g, lr)


class TransH(_KGEModel):
    """Hyperplane projection h⊥ = h - (wᵀh)w (Wang et al. 2014)."""

    def _init_rel(self, s):
        self.R = self.rng.uniform(-s, s, (self.n_rel, self.dim))  # translation d_r
        w = self.rng.uniform(-s, s, (self.n_rel, self.dim))
        self.W = w / np.linalg.norm(w, axis=1, keepdims=True)

    def f(self, h, r, t):
        w = self.W[r]
        x = self.E[h] - self.E[t]
        e = x - np.sum(w * x, axis=1, keepdims=True) * w + self.R[r]
        return np.sum(e * e, axis=1)

    def step(self, h, r, t, coeff, lr):
        w = self.W[r]
        x = self.E[h] - self.E[t]
        wx = np.sum(w * x, axis=1, keepdims=True)
        e = x - wx * w + self.R[r]
        g = 2.0 * e * coeff[:, None]
        gx = g - np.sum(w * g, axis=1, keepdims=True) * w  # (I - wwᵀ)g
        gw = -(np.sum(g * w, axis=1, keepdims=True) * x + wx * g)
        self._upd(self.E, h, gx, lr)
        self._upd(self.E, t, -gx, lr)
        self._upd(self.R, r, g, lr)
        self._upd(self.W, r, gw, lr)
        self.W /= np.maximum(np.linalg.norm(self.W, axis=1, keepdims=True), 1e-9)


class TransR(_KGEModel):
    """Per-relation projection matrix M_r (Lin et al. 2015);
    f = ||M h + r - M t||^2."""

    def _init_rel(self, s):
        self.R = self.rng.uniform(-s, s, (self.n_rel, self.dim))
        self.M = np.tile(np.eye(self.dim), (self.n_rel, 1, 1)) + self.rng.uniform(
            -0.01, 0.01, (self.n_rel, self.dim, self.dim)
        )

    def f(self, h, r, t):
        M = self.M[r]
        e = (
            np.einsum("bij,bj->bi", M, self.E[h])
            + self.R[r]
            - np.einsum("bij,bj->bi", M, self.E[t])
        )
        return np.sum(e * e, axis=1)

    def step(self, h, r, t, coeff, lr):
        M = self.M[r]
        x = self.E[h] - self.E[t]
        e = np.einsum("bij,bj->bi", M, x) + self.R[r]
        g = 2.0 * e * coeff[:, None]
        gx = np.einsum("bij,bi->bj", M, g)  # Mᵀ g
        gM = np.einsum("bi,bj->bij", g, x)
        self._upd(self.E, h, gx, lr)
        self._upd(self.E, t, -gx, lr)
        self._upd(self.R, r, g, lr)
        self._upd(self.M, r, gM, lr)


class TransD(_KGEModel):
    """Dynamic mapping via projection vectors (Ji et al. 2015):
    h⊥ = h + (h_p·h) r_p."""

    def _init_rel(self, s):
        self.R = self.rng.uniform(-s, s, (self.n_rel, self.dim))
        self.Rp = self.rng.uniform(-s, s, (self.n_rel, self.dim))
        self.Ep = self.rng.uniform(-s, s, (self.n_ent, self.dim))

    def normalize(self):
        super().normalize()
        for tbl in (self.Ep, self.Rp):  # keep projections on the unit ball
            norms = np.linalg.norm(tbl, axis=1, keepdims=True)
            np.divide(tbl, np.maximum(norms, 1.0), out=tbl)

    def _proj(self, h, r, t):
        hp, tp, rp = self.Ep[h], self.Ep[t], self.Rp[r]
        a = np.sum(hp * self.E[h], axis=1, keepdims=True)
        b = np.sum(tp * self.E[t], axis=1, keepdims=True)
        e = self.E[h] + a * rp + self.R[r] - self.E[t] - b * rp
        return e, a, b, rp

    def f(self, h, r, t):
        e, *_ = self._proj(h, r, t)
        return np.sum(e * e, axis=1)

    def step(self, h, r, t, coeff, lr):
        e, a, b, rp = self._proj(h, r, t)
        g = 2.0 * e * coeff[:, None]
        grp = np.sum(g * rp, axis=1, keepdims=True)  # (g·r_p)
        H, T, Hp, Tp = self.E[h], self.E[t], self.Ep[h], self.Ep[t]  # copies
        self._upd(self.E, h, g + grp * Hp, lr)
        self._upd(self.E, t, -(g + grp * Tp), lr)
        self._upd(self.Ep, h, grp * H, lr)
        self._upd(self.Ep, t, -grp * T, lr)
        self._upd(self.R, r, g, lr)
        self._upd(self.Rp, r, (a - b) * g, lr)


class RotatE(_KGEModel):
    """Complex rotation h∘e^{iθ} (Sun et al. 2019); f = ||h r - t||^2."""

    complex_entities = True

    def _init_rel(self, s):
        self.theta = self.rng.uniform(-np.pi, np.pi, (self.n_rel, self.dim))

    def f(self, h, r, t):
        rot = np.exp(1j * self.theta[r])
        e = self.E[h] * rot - self.E[t]
        return np.sum(np.abs(e) ** 2, axis=1)

    def step(self, h, r, t, coeff, lr):
        rot = np.exp(1j * self.theta[r])
        e = self.E[h] * rot - self.E[t]
        c = coeff[:, None]
        gh = 2.0 * e * np.conj(rot) * c
        gt = -2.0 * e * c
        gth = 2.0 * np.real(np.conj(e) * 1j * self.E[h] * rot) * c
        self._upd(self.E, h, gh, lr)
        self._upd(self.E, t, gt, lr)
        self._upd(self.theta, r, gth, lr)


class DistMult(_KGEModel):
    """Trilinear s = Σ h r t (Yang et al. 2015); f = -s."""

    def f(self, h, r, t):
        return -np.sum(self.E[h] * self.R[r] * self.E[t], axis=1)

    def step(self, h, r, t, coeff, lr):
        c = -coeff[:, None]
        H, R_, T = self.E[h], self.R[r], self.E[t]  # fancy-index copies
        self._upd(self.E, h, c * R_ * T, lr)
        self._upd(self.R, r, c * H * T, lr)
        self._upd(self.E, t, c * H * R_, lr)


class ComplExModel(_KGEModel):
    """s = Re(Σ h r conj(t)) (Trouillon et al. 2016); f = -s."""

    complex_entities = True

    def _init_rel(self, s):
        self.R = self.rng.uniform(-s, s, (self.n_rel, self.dim)) + 1j * self.rng.uniform(
            -s, s, (self.n_rel, self.dim)
        )

    def f(self, h, r, t):
        return -np.real(np.sum(self.E[h] * self.R[r] * np.conj(self.E[t]), axis=1))

    def step(self, h, r, t, coeff, lr):
        c = -coeff[:, None]
        H, R_, T = self.E[h], self.R[r], self.E[t]  # fancy-index copies
        # Wirtinger gradients packaged as complex updates
        self._upd(self.E, h, c * np.conj(R_) * T, lr)
        self._upd(self.R, r, c * np.conj(H) * T, lr)
        self._upd(self.E, t, c * H * R_, lr)


class RESCAL(_KGEModel):
    """Bilinear s = hᵀ W_r t (Nickel et al. 2011); f = -s."""

    def _init_rel(self, s):
        self.M = self.rng.uniform(-s, s, (self.n_rel, self.dim, self.dim))

    def f(self, h, r, t):
        return -np.einsum("bi,bij,bj->b", self.E[h], self.M[r], self.E[t])

    def step(self, h, r, t, coeff, lr):
        c = -coeff[:, None]
        M, H, T = self.M[r], self.E[h], self.E[t]  # fancy-index copies
        self._upd(self.E, h, c * np.einsum("bij,bj->bi", M, T), lr)
        self._upd(self.E, t, c * np.einsum("bij,bi->bj", M, H), lr)
        gM = -coeff[:, None, None] * np.einsum("bi,bj->bij", H, T)
        self._upd(self.M, r, gM, lr)


class TuckER(_KGEModel):
    """Shared core tensor s = W ×1 h ×2 r ×3 t (Balažević et al. 2019)."""

    def _init_rel(self, s):
        self.R = self.rng.uniform(-s, s, (self.n_rel, self.dim))
        self.Wc = self.rng.uniform(-0.1, 0.1, (self.dim, self.dim, self.dim))

    def f(self, h, r, t):
        return -np.einsum(
            "ijk,bi,bj,bk->b", self.Wc, self.E[h], self.R[r], self.E[t]
        )

    def step(self, h, r, t, coeff, lr):
        c = -coeff[:, None]
        H, Rr, T = self.E[h], self.R[r], self.E[t]
        self._upd(self.E, h, c * np.einsum("ijk,bj,bk->bi", self.Wc, Rr, T), lr)
        self._upd(self.R, r, c * np.einsum("ijk,bi,bk->bj", self.Wc, H, T), lr)
        self._upd(self.E, t, c * np.einsum("ijk,bi,bj->bk", self.Wc, H, Rr), lr)
        gW = np.einsum("b,bi,bj,bk->ijk", -coeff, H, Rr, T)
        gn = np.sqrt(np.sum(gW * gW))
        self.Wc -= lr * gW * min(1.0, self.CLIP / max(gn, 1e-12))


KGE_MODELS = {
    "transe": TransE,
    "transh": TransH,
    "transr": TransR,
    "transd": TransD,
    "rotate": RotatE,
    "distmult": DistMult,
    "complex": ComplExModel,
    "rescal": RESCAL,
    "tucker": TuckER,
}


TRANSLATIONAL = ("transe", "transh", "transr", "transd", "rotate")


def _run_epoch(
    m: _KGEModel,
    triples_idx: np.ndarray,
    rng: np.random.Generator,
    lr: float,
    margin: float,
    batch_size: int,
    n_negatives: int,
    adversarial_alpha: float | None,
) -> None:
    """One SGD pass over ``triples_idx`` (shared by the driver trainer
    and each partition of the sharded trainer — bit-identical batch
    logic)."""
    n = len(triples_idx)
    n_ent = m.n_ent
    order = rng.permutation(n)
    for start in range(0, n, batch_size):
        b = triples_idx[order[start : start + batch_size]]
        h, r, t = b[:, 0], b[:, 1], b[:, 2]
        fp = m.f(h, r, t)
        negs = []
        fns = []
        for _i in range(n_negatives):
            corrupt_head = rng.random(len(b)) < 0.5
            rand_e = rng.integers(0, n_ent, len(b))
            hn = np.where(corrupt_head, rand_e, h)
            tn = np.where(corrupt_head, t, rand_e)
            negs.append((hn, tn))
            fns.append(m.f(hn, r, tn))
        fns_m = np.stack(fns)  # (m, B)
        active = (margin + fp[None, :] - fns_m) > 0
        if not active.any():
            continue
        # no n_negatives > 1 gate: softmax over a single negative is
        # w == 1 (same as uniform), so alpha is honored — not
        # silently ignored — whatever the negative count
        if adversarial_alpha is not None:
            # harder negatives (lower f) weigh more; detached weights
            logits = -adversarial_alpha * fns_m
            logits -= logits.max(axis=0, keepdims=True)
            w = np.exp(logits)
            w /= w.sum(axis=0, keepdims=True)
        else:
            w = np.full_like(fns_m, 1.0 / n_negatives)
        coeff_neg = active.astype(np.float64) * w  # (m, B)
        # one pos/neg step PAIR per negative: gradient clipping is
        # per step call, so pairing keeps the descend/ascend pulls
        # symmetric (a single summed pos step would be clipped once
        # against m neg steps and the relation vectors would drift)
        for (hn, tn), cn in zip(negs, coeff_neg):
            if cn.any():
                m.step(h, r, t, cn, lr)  # descend f(pos)
                m.step(hn, r, tn, -cn, lr)  # ascend f(neg)


def train_kge(
    triples_idx: np.ndarray,
    n_ent: int,
    n_rel: int,
    model: str = "transe",
    dim: int = 32,
    epochs: int = 5,
    lr: float = 0.05,
    margin: float = 1.0,
    batch_size: int = 1024,
    seed: int = 42,
    n_negatives: int = 1,
    adversarial_alpha: float | None = None,
) -> _KGEModel:
    """Single-node SGD stage (the reference's pykeen step, M2).

    Margin ranking loss with ``n_negatives`` uniform corruptions per
    positive; ``adversarial_alpha`` enables self-adversarial negative
    weighting (softmax of -f(neg) over the negatives, Sun et al. 2019
    RotatE) — harder negatives get larger gradient weight. Defaults
    (1 negative, no weighting) reproduce the classic Bordes protocol.
    Entity-ball normalization each epoch for the translational family.
    """
    rng = np.random.default_rng(seed)
    m = KGE_MODELS[model](n_ent, n_rel, dim, rng)
    translational = model in TRANSLATIONAL
    for _ in range(epochs):
        _run_epoch(
            m, triples_idx, rng, lr, margin, batch_size, n_negatives,
            adversarial_alpha,
        )
        if translational:
            m.normalize()
    return m


def _param_tables(m: _KGEModel) -> dict[str, np.ndarray]:
    """The model's numpy parameter tables (name -> array), sorted by
    name. Every trainable array a subclass creates is an instance
    attribute, so this is the generic transport surface for the
    sharded trainer — no per-model serialization code."""
    return {k: v for k, v in sorted(vars(m).items()) if isinstance(v, np.ndarray)}


def _table_kinds(
    model_cls, dim: int
) -> tuple[dict[str, str], dict[str, tuple], set[str]]:
    """Classify each of a model's parameter tables by what indexes its
    axis 0 — ``ent`` (entity-indexed), ``rel`` (relation-indexed), or
    ``global`` (shared, e.g. TuckER's core tensor) — by instantiating
    a sentinel-sized template. Returns (kinds, row_shapes,
    complex_tables): kinds and row_shapes are keyed by table name,
    row_shapes[name] is the per-row shape (axis 1+), and
    complex_tables names the complex-valued tables."""
    # a global table's axis 0 is at most dim, so these never collide
    s_ent, s_rel = dim + 1, dim + 2
    tmpl = model_cls(s_ent, s_rel, dim, np.random.default_rng(0))
    kinds, shapes, complex_tables = {}, {}, set()
    for name, arr in _param_tables(tmpl).items():
        kinds[name] = (
            "ent" if arr.shape[0] == s_ent
            else "rel" if arr.shape[0] == s_rel
            else "global"
        )
        shapes[name] = arr.shape[1:] if arr.ndim > 1 else (1,)
        if np.iscomplexobj(arr):
            complex_tables.add(name)
    return kinds, shapes, complex_tables


def params_to_df(spark, m: _KGEModel) -> DataFrame:
    """One-time conversion of a model's numpy tables to the sharded
    parameter DataFrame layout: (tbl, idx, vec array<double>), complex
    tables as ``name:re`` / ``name:im`` row pairs. This is the ONLY
    driver-side materialization the sharded trainer needs (the init
    snapshot); pass its output — or any DataFrame with the same layout
    generated distributed — as ``params_init``."""
    rows: list[tuple[str, int, list[float]]] = []
    for name, arr in _param_tables(m).items():
        flat = arr.reshape(len(arr), -1)
        comps = (
            ((":re", flat.real), (":im", flat.imag))
            if np.iscomplexobj(flat)
            else (("", flat),)
        )
        for suffix, mat in comps:
            for i in range(len(mat)):
                rows.append((name + suffix, int(i), [float(x) for x in mat[i]]))
    return spark.createDataFrame(rows, "tbl string, idx long, vec array<double>")


def distributed_params_init(
    spark, model: str, n_ent: int, n_rel: int, dim: int, seed: int = 42
) -> DataFrame:
    """Sharded-trainer init generated ON THE CLUSTER — the
    ``params_init`` escape hatch made first-class, so not even the
    one-time init snapshot touches the driver (VERDICT r10 item 4's
    100 TB endgame: the entity table outgrows the driver at init time
    too). Each table's rows are md5-derived uniforms matching the
    numpy init's DISTRIBUTION per model (ranges below), not its rng
    stream — every stochastic trainer here is band-parity, so the
    init stream never mattered, only its scale:

    * entity/relation vectors: U(-s, s), s = 6/sqrt(dim) (complex
      tables as independent :re/:im uniforms);
    * TransH hyperplanes W: U(-s, s) then row-L2-normalized;
    * TransR matrices M: I + U(-0.01, 0.01);
    * RotatE phases theta: U(-pi, pi);
    * TuckER core W_c: U(-0.1, 0.1).

    Deterministic in (seed, table, idx, position) — reproducible
    across cluster layouts. Feed to :func:`train_kge_sharded` via
    ``params_init``."""
    import math as _math

    from ..functions.hashing import md5_long
    from .dedup import MINHASH_PRIME

    model_cls = KGE_MODELS[model]
    s = 6.0 / _math.sqrt(dim)
    # (row-name, n_rows, per_row, low, high, post) — post in
    # {None, "identity" (add I on the flattened diagonal),
    #  "l2norm" (row-normalize)}
    specs: list[tuple[str, int, int, float, float, str | None]] = []

    def uni(name, n_rows, per_row, low, high, post=None):
        specs.append((name, n_rows, per_row, low, high, post))

    if model_cls.complex_entities:
        uni("E:re", n_ent, dim, -s, s)
        uni("E:im", n_ent, dim, -s, s)
    else:
        uni("E", n_ent, dim, -s, s)
    if model == "transe" or model == "distmult":
        uni("R", n_rel, dim, -s, s)
    elif model == "transh":
        uni("R", n_rel, dim, -s, s)
        uni("W", n_rel, dim, -s, s, post="l2norm")
    elif model == "transr":
        uni("R", n_rel, dim, -s, s)
        uni("M", n_rel, dim * dim, -0.01, 0.01, post="identity")
    elif model == "transd":
        uni("R", n_rel, dim, -s, s)
        uni("Rp", n_rel, dim, -s, s)
        uni("Ep", n_ent, dim, -s, s)
    elif model == "rotate":
        uni("theta", n_rel, dim, -_math.pi, _math.pi)
    elif model == "complex":
        uni("R:re", n_rel, dim, -s, s)
        uni("R:im", n_rel, dim, -s, s)
    elif model == "rescal":
        uni("M", n_rel, dim * dim, -s, s)
    elif model == "tucker":
        uni("R", n_rel, dim, -s, s)
        uni("Wc", dim, dim * dim, -0.1, 0.1)
    else:  # pragma: no cover — KGE_MODELS lookup already raised
        raise ValueError(model)

    def make_element(_name, _low, _high, _post, _pr):
        def element(p):
            u = F.pmod(
                md5_long(
                    F.concat_ws(
                        ":", F.lit(int(seed)), F.lit(_name),
                        F.col("idx").cast("string"), p.cast("string"),
                    )
                ),
                F.lit(MINHASH_PRIME),
            ).cast("double") / F.lit(float(MINHASH_PRIME))
            val = F.lit(float(_low)) + F.lit(float(_high - _low)) * u
            if _post == "identity":
                # flattened row-major dim x dim: diagonal at p = k*(dim+1)
                val = val + F.when(
                    F.pmod(p, F.lit(int(_math.isqrt(_pr)) + 1)) == 0,
                    F.lit(1.0),
                ).otherwise(F.lit(0.0))
            return val

        return element

    out = None
    for name, n_rows, per_row, low, high, post in specs:

        # one map-side projection per table — no explode, no shuffle
        t = (
            spark.range(n_rows)
            .select(F.col("id").alias("idx"))
            .select(
                F.lit(name).alias("tbl"),
                "idx",
                F.transform(
                    F.sequence(F.lit(0), F.lit(per_row - 1)),
                    make_element(name, low, high, post, per_row),
                ).alias("vec"),
            )
        )
        if post == "l2norm":
            t = t.select(
                "tbl", "idx", "vec",
                F.sqrt(
                    F.aggregate("vec", F.lit(0.0), lambda a, x: a + x * x)
                ).alias("_n"),
            ).select(
                "tbl", "idx",
                F.transform(
                    "vec", lambda x: x / F.greatest(F.col("_n"), F.lit(1e-12))
                ).alias("vec"),
            )
        out = t if out is None else out.unionByName(t)
    return out


def _normalize_params_df(
    params: DataFrame,
    tables: list[str],
    complex_tables: set[str],
    touched_only: bool = False,
) -> DataFrame:
    """DataFrame twin of ``_KGEModel.normalize``: project the named
    entity tables back onto the unit ball (divide rows whose L2 norm
    exceeds 1). Complex tables normalize by the modulus, touching the
    ``:re``/``:im`` row pair together. Norms are materialized in their
    own projection BEFORE the division lambda (the Spark 4.1
    aggregate-inside-transform re-evaluation pitfall).

    ``touched_only``: when True and the frame carries a boolean
    ``_upd`` column, real-valued tables project only rows updated this
    epoch. Rationale: a row untouched since the last projection has
    norm <= 1, where the projection divides by greatest(norm, 1.0) =
    1.0 — an identity. Caveat (ADVICE r12): that invariant holds up to
    the last ULP — a just-projected vector v/||v|| can RECOMPUTE to a
    norm of 1 + 1ulp, in which case a full re-projection would divide
    once more where the gated pass skips; the divergence is bounded at
    ~1 ulp per skipped row per epoch, far inside the trainer's ±2σ
    quality-parity band (the single-partition pin in tests/test_kge.py
    checks this gated pass against a full numpy ``normalize()`` every
    epoch at atol 1e-9).
    Treat touched_only as band-exact, not bit-exact, vs the full pass.
    The first epoch must run with touched_only=False (init rows have
    never been projected). VERDICT r11 item 2: re-normalizing the full entity
    table every epoch was one of the sharded trainer's two per-epoch
    full-table passes. Complex (:re/:im) tables keep the all-rows
    join path — the cross-row pairing can't gate per-row, and the
    projection is idempotent there too. The ``_upd`` column is
    consumed and dropped."""
    has_upd = "_upd" in params.columns
    gate = (
        F.col("_upd") if (touched_only and has_upd) else F.lit(True)
    )
    real_targets = [t for t in tables if t not in complex_tables]
    cplx_rows = [f"{t}:{p}" for t in tables if t in complex_tables for p in ("re", "im")]
    keep = ["_upd"] if (has_upd and cplx_rows) else []
    if real_targets:
        # ONE projection pair over the whole frame (no split + union):
        # stage the norm, then divide gated rows — non-target and
        # un-gated rows pass through untouched
        do = F.col("tbl").isin(real_targets) & gate
        staged = params.select(
            "tbl", "idx", "vec", *keep,
            F.when(
                do,
                F.sqrt(F.aggregate("vec", F.lit(0.0), lambda a, x: a + x * x)),
            ).alias("_n"),
        )
        params = staged.select(
            "tbl", "idx",
            F.when(
                F.col("_n").isNotNull(),
                F.transform(
                    "vec", lambda x: x / F.greatest(F.col("_n"), F.lit(1.0))
                ),
            )
            .otherwise(F.col("vec"))
            .alias("vec"),
            *keep,
        )
    if not cplx_rows:
        return params.drop("_upd") if has_upd else params
    out = params.filter(~F.col("tbl").isin(cplx_rows)).select("tbl", "idx", "vec")
    for t in tables:
        if t not in complex_tables:
            continue
        re = params.filter(F.col("tbl") == f"{t}:re").select(
            "idx", F.col("vec").alias("_re")
        )
        im = params.filter(F.col("tbl") == f"{t}:im").select(
            "idx", F.col("vec").alias("_im")
        )
        j = re.join(im, "idx").select(
            "idx", "_re", "_im",
            F.sqrt(
                F.aggregate("_re", F.lit(0.0), lambda a, x: a + x * x)
                + F.aggregate("_im", F.lit(0.0), lambda a, x: a + x * x)
            ).alias("_n"),
        )
        div = lambda c: F.transform(  # noqa: E731
            c, lambda x: x / F.greatest(F.col("_n"), F.lit(1.0))
        )
        out = out.unionByName(
            j.select(F.lit(f"{t}:re").alias("tbl"), "idx", div("_re").alias("vec"))
        ).unionByName(
            j.select(F.lit(f"{t}:im").alias("tbl"), "idx", div("_im").alias("vec"))
        )
    return out


def train_kge_sharded(
    triples_idx_df: DataFrame,
    n_ent: int,
    n_rel: int,
    model: str = "transe",
    dim: int = 32,
    epochs: int = 5,
    lr: float = 0.05,
    margin: float = 1.0,
    batch_size: int = 1024,
    seed: int = 42,
    n_negatives: int = 1,
    adversarial_alpha: float | None = None,
    n_partitions: int = 8,
    params_init: DataFrame | None = None,
) -> DataFrame:
    """Fully sharded KGE training — parameters NEVER driver-resident
    during training: at a 100 TB triple store the entity-parameter
    table itself outgrows the driver, so it never leaves the cluster.

    The parameter state lives as a DataFrame (tbl, idx, vec) across
    epochs. Per epoch:

    1. each deterministic triple partition's TOUCHED parameter rows
       (the entities/relations appearing in its triples, plus the
       shared global tables) are shipped to it via one equi-join —
       no full-table broadcast, each task holds O(its working set);
    2. a cogrouped ``applyInPandas`` over (triples, params) runs the
       exact :func:`_run_epoch` SGD batch logic on a LOCAL dense
       remap of its slice and emits sparse per-row deltas;
    3. deltas are summed Spark-side and joined back into the
       parameter DataFrame (``vec + sum(delta)/n_partitions`` —
       unweighted model averaging);
    4. the translational family re-projects onto the unit ball with
       the DataFrame twin of ``normalize`` — every row on epoch 0,
       only this epoch's TOUCHED rows afterwards (exact: an untouched
       row's norm is already <= 1, where the projection is an
       IEEE-exact identity); each epoch ends in an eager
       localCheckpoint that truncates the lineage.

    Semantics: negative corruption samples from the partition's LOCAL
    entity set (the shipped slice is all a task can see) — the
    standard distributed-KGE compromise (DGL-KE's per-partition
    negatives); with ONE partition whose triples cover every entity,
    the result equals a plain numpy loop of :func:`_run_epoch` over the
    sorted triples with the same per-epoch rng seeds (unit-pinned).
    Parity is metric-band, like every stochastic trainer here
    (SURVEY §6).

    Init: ``params_init`` defaults to a one-time driver conversion of
    the standard numpy init (:func:`params_to_df` — the same O(n_ent
    x dim) one-shot footprint as writing any init checkpoint, freed
    immediately); for corpora where even that is too large, pass
    :func:`distributed_params_init` (cluster-generated, md5-derived
    uniforms matching each table's init distribution) and the driver
    never holds a single table row at any point.

    Returns the final parameter DataFrame (tbl, idx, vec); feed the
    entity table to scoring via :func:`sharded_entity_embeddings`.
    """
    import pandas as pd

    from ..functions.hashing import md5_long

    spark = triples_idx_df.sparkSession
    model_cls = KGE_MODELS[model]
    kinds, row_shapes, complex_tables = _table_kinds(model_cls, dim)
    if params_init is None:
        m0 = model_cls(n_ent, n_rel, dim, np.random.default_rng(seed))
        params = params_to_df(spark, m0)
        del m0
    else:
        params = params_init
    params = params.localCheckpoint(eager=True)
    translational = model in TRANSLATIONAL
    norm_tables = (
        (["E", "Ep", "Rp"] if model == "transd" else ["E"])
        if translational
        else []
    )

    parts = (
        triples_idx_df.select(
            F.col("h").cast("long"),
            F.col("r").cast("long"),
            F.col("t").cast("long"),
            F.pmod(
                md5_long(F.concat_ws(":", "h", "r", "t")), F.lit(n_partitions)
            ).alias("part"),
        )
        # hash-partition on `part` BEFORE persisting: the cogroup
        # requires a clustered distribution on the key, so the cached
        # layout satisfies it and the (static) triple side is never
        # re-exchanged — the old layout re-shuffled it every epoch
        .repartition("part")
        .persist()
    )
    # (part, tbl, idx) of every parameter row a partition needs: its
    # triples' entities for ent tables, relations for rel tables, and
    # every row of the (tiny) global tables
    ent_touch = parts.select(
        "part", F.explode(F.array("h", "t")).alias("idx")
    ).distinct()
    rel_touch = parts.select("part", F.col("r").alias("idx")).distinct()
    live_parts = parts.select("part").distinct()
    touches = []
    for name, kind in kinds.items():
        row_names = (
            [f"{name}:re", f"{name}:im"] if name in complex_tables else [name]
        )
        for rn in row_names:
            if kind == "ent":
                touches.append(ent_touch.select("part", F.lit(rn).alias("tbl"), "idx"))
            elif kind == "rel":
                touches.append(rel_touch.select("part", F.lit(rn).alias("tbl"), "idx"))
            else:
                touches.append(
                    live_parts.join(
                        params.filter(F.col("tbl") == rn).select("tbl", "idx"),
                        F.lit(True),
                    ).select("part", "tbl", "idx")
                )
    touched = touches[0]
    for t in touches[1:]:
        touched = touched.unionByName(t)
    # eager localCheckpoint (not persist): severs the lineage back to
    # `parts`, which the cogroup below also consumes — otherwise the
    # shared `part` column is an ambiguous self-join — and the touch
    # map is computed once, reused every epoch
    touched = touched.localCheckpoint(eager=True)
    # the delta rows carry their source partition id so the fold below
    # can SORT by it before summing (bit-reproducible epochs)
    out_schema = "part int, tbl string, idx long, delta array<double>"
    table_names = sorted(kinds)

    for epoch in range(epochs):
        part_params = touched.join(params, ["tbl", "idx"])

        def make_runner(_epoch):
            def run(key, tri_pdf, par_pdf):
                part_id = int(key[0])
                h = tri_pdf["h"].to_numpy(np.int64)
                r = tri_pdf["r"].to_numpy(np.int64)
                t = tri_pdf["t"].to_numpy(np.int64)
                l_ents = np.unique(np.concatenate([h, t]))
                l_rels = np.unique(r)
                local = model_cls(
                    len(l_ents), len(l_rels), dim, np.random.default_rng(0)
                )
                grp = {k: g for k, g in par_pdf.groupby("tbl")}

                def rows_of(rn, rows_idx, per_row):
                    g = grp.get(rn)
                    vals = np.zeros((len(rows_idx), per_row), dtype=np.float64)
                    if g is not None and len(g):
                        pos = np.searchsorted(rows_idx, g["idx"].to_numpy(np.int64))
                        vals[pos] = np.vstack(
                            [np.asarray(v, dtype=np.float64) for v in g["vec"]]
                        )
                    return vals

                refs = {}
                idx_of = {}
                for name in table_names:
                    kind = kinds[name]
                    shape = row_shapes[name]
                    per_row = int(np.prod(shape))
                    rows_idx = (
                        l_ents if kind == "ent"
                        else l_rels if kind == "rel"
                        else np.arange(getattr(local, name).shape[0], dtype=np.int64)
                    )
                    idx_of[name] = rows_idx
                    if name in complex_tables:
                        arr = rows_of(f"{name}:re", rows_idx, per_row) + 1j * rows_of(
                            f"{name}:im", rows_idx, per_row
                        )
                    else:
                        arr = rows_of(name, rows_idx, per_row)
                    arr = np.ascontiguousarray(arr.reshape(len(rows_idx), *shape))
                    if per_row == 1 and getattr(local, name).ndim == 1:
                        arr = arr.reshape(len(rows_idx))
                    setattr(local, name, arr.copy())
                    refs[name] = arr
                tri = np.stack(
                    [
                        np.searchsorted(l_ents, h),
                        np.searchsorted(l_rels, r),
                        np.searchsorted(l_ents, t),
                    ],
                    axis=1,
                )
                order = np.lexsort((tri[:, 2], tri[:, 1], tri[:, 0]))
                tri = tri[order]
                rng_l = np.random.default_rng([seed, _epoch, part_id])
                _run_epoch(
                    local, tri, rng_l, lr, margin, batch_size, n_negatives,
                    adversarial_alpha,
                )
                rows: list[tuple[int, str, int, list[float]]] = []
                for name in table_names:
                    delta = getattr(local, name) - refs[name]
                    flat = delta.reshape(len(delta), -1)
                    touched_rows = np.nonzero(np.any(flat != 0, axis=1))[0]
                    comps = (
                        ((":re", flat.real), (":im", flat.imag))
                        if np.iscomplexobj(flat)
                        else (("", flat),)
                    )
                    gidx = idx_of[name]
                    for suffix, mat in comps:
                        for i in touched_rows:
                            rows.append(
                                (
                                    part_id,
                                    name + suffix,
                                    int(gidx[i]),
                                    [float(x) for x in mat[i]],
                                )
                            )
                return pd.DataFrame(
                    rows, columns=["part", "tbl", "idx", "delta"]
                )

            return run

        deltas = (
            parts.groupby("part")
            .cogroup(part_params.groupby("part"))
            .applyInPandas(make_runner(epoch), out_schema)
        )
        # ONE shuffle on (tbl, idx) carrying whole delta ARRAYS, folded
        # element-wise after the grouping — the old posexplode path
        # shuffled dim x touched rows and needed a second groupBy to
        # reassemble (VERDICT r11 item 2: the per-epoch cost center).
        # At most n_partitions arrays meet per row, so the fold is
        # O(n_partitions * dim) per row. ADVICE r12: collect_list order
        # is schedule-dependent, so the deltas are collected as
        # (part, delta) structs and array_sort-ed by the partition tag
        # before summing — each partition contributes at most one delta
        # per (tbl, idx), so the sort is a total order and epoch
        # parameters are bit-reproducible across runs/schedules (the
        # old posexplode+sum path never was).
        lst = F.array_sort(F.collect_list(F.struct("part", "delta")))
        summed = deltas.groupBy("tbl", "idx").agg(
            F.aggregate(
                F.slice(lst, 2, F.greatest(F.size(lst) - 1, F.lit(0))),
                F.element_at(lst, 1).getField("delta"),
                lambda acc, d: F.zip_with(
                    acc, d.getField("delta"), lambda a, b: a + b
                ),
            ).alias("delta")
        )
        params = params.join(summed, ["tbl", "idx"], "left").select(
            "tbl",
            "idx",
            F.when(F.col("delta").isNull(), F.col("vec"))
            .otherwise(
                F.zip_with(
                    "vec",
                    "delta",
                    lambda a, b: a + b / F.lit(float(n_partitions)),
                )
            )
            .alias("vec"),
            F.col("delta").isNotNull().alias("_upd"),
        )
        if translational:
            # epoch 0 projects EVERY row (init vectors have never been
            # projected); later epochs only the rows this epoch's
            # deltas touched — exact, see _normalize_params_df
            params = _normalize_params_df(
                params, norm_tables, complex_tables, touched_only=epoch > 0
            )
        else:
            params = params.drop("_upd")
        params = params.localCheckpoint(eager=True)
    parts.unpersist()
    return params


def sharded_entity_embeddings(params: DataFrame, model: str) -> DataFrame:
    """Entity-vector table (idx, vec) from a sharded parameter
    DataFrame — the DataFrame twin of ``entity_vectors`` (complex
    models export the real part, M5)."""
    tbl = "E:re" if KGE_MODELS[model].complex_entities else "E"
    return params.filter(F.col("tbl") == tbl).select("idx", "vec")


class KGERecommender(Recommender):
    """Any-of-9 KGE model + shared cosine top-k scoring path.

    Triples = train ratings with relation ``rating{value}`` (G8,
    ``graph.py:90``), optionally unioned with has_property/is triples
    from a KGraph. Type-prefixed entity ids (``u:``/``i:``) keep
    users and items distinct, as the reference's node classes do.

    The driver trainer keeps what scoring needs on the driver — the
    entity names and vectors, and the train (user_id, item_id) pairs
    from one bounded Arrow collect — and leaves nothing persisted in
    Spark, and scores through ``recommend.driver_recommendations``:
    ``exact`` is ``recommend.driver_topk`` on the driver, ``lsh`` runs
    in Spark on inputs built from the driver-held data. The sharded
    trainer keeps the train frame and the entity vectors persisted in
    Spark and scores there (``topk_by_cosine`` or LSH).
    ``scoring`` is ``exact`` or ``lsh``.
    """

    def __init__(self, model: str = "transe", k: int = 5, dim: int = 32,
                 epochs: int = 5, lr: float = 0.05, margin: float = 1.0,
                 seed: int = 42, scoring: str = "exact",
                 n_negatives: int = 1, adversarial_alpha: float | None = None,
                 all_recs: bool = False, trainer: str = "driver",
                 n_partitions: int = 8):
        check_scoring(scoring, all_recs)
        self.all_recs = all_recs
        self.model_name, self.k, self.dim = model, k, dim
        self.epochs, self.lr, self.margin, self.seed = epochs, lr, margin, seed
        self.scoring = scoring  # "exact" (parity) | "lsh" (scale)
        self.n_negatives = n_negatives
        self.adversarial_alpha = adversarial_alpha
        # "driver" = reference-parity single-node SGD (one guarded
        # Arrow collect of the string triples, indexed on the driver —
        # collect_triples); "sharded" = partition-wise SGD with the
        # triples AND the parameter tables kept as DataFrames across
        # epochs (train_kge_sharded — the 100 TB path where even the
        # entity table outgrows the driver)
        if trainer not in ("driver", "sharded"):
            raise ValueError(
                f"trainer must be 'driver' or 'sharded', got {trainer!r}"
            )
        self.trainer = trainer
        self.n_partitions = n_partitions
        self._spark = None
        self._train: DataFrame | None = None
        self._emb: DataFrame | None = None
        # driver trainer: (train pairs, entity names, entity vectors)
        self._driver: tuple[pa.Table, pa.Array, np.ndarray] | None = None

    def train(self, train_ratings: DataFrame,
              extra_triples: DataFrame | None = None) -> "KGERecommender":
        self._spark = train_ratings.sparkSession
        self._train = self._emb = self._driver = None
        train = train_ratings.select(
            F.col("user_id").cast("string").alias("user_id"),
            F.col("item_id").cast("string").alias("item_id"),
            "rating",
        ).persist()
        triples = train.select(
            F.concat(F.lit("u:"), "user_id").alias("head"),
            F.concat(F.lit("rating"), F.col("rating").cast("string")).alias("relation"),
            F.concat(F.lit("i:"), "item_id").alias("tail"),
        )
        if extra_triples is not None:
            triples = triples.unionByName(extra_triples.select("head", "relation", "tail"))
        hyper = dict(
            model=self.model_name, dim=self.dim, epochs=self.epochs,
            lr=self.lr, margin=self.margin, seed=self.seed,
            n_negatives=self.n_negatives,
            adversarial_alpha=self.adversarial_alpha,
        )
        if self.trainer == "driver":
            try:
                # the triples' guard runs before any collect; their
                # cache-filling write fills train's cache for the pairs
                idx, ent_names, rel_names = collect_triples(triples)
                pairs = collect_pairs(train)
            finally:
                train.unpersist()
            m = train_kge(idx, len(ent_names), len(rel_names), **hyper)
            self._driver = (pairs, ent_names, m.entity_vectors())
            return self
        self._train = train
        ents, rels = index_entities(triples)
        ents, rels = ents.persist(), rels.persist()
        params = train_kge_sharded(
            indexed_triples_df(triples, ents, rels),
            ents.count(), rels.count(),
            n_partitions=self.n_partitions, **hyper,
        )
        evec = sharded_entity_embeddings(params, self.model_name)
        self._emb = ents.join(evec, "idx").select("e", "vec").persist()
        return self

    def get_recommendations(self, k: int | None = None) -> DataFrame:
        if self._train is None and self._driver is None:
            raise RuntimeError("call train() before get_recommendations()")
        k = k or self.k
        if self._driver is not None:
            return driver_recommendations(
                self._spark, *self._driver, k, self.scoring, self.all_recs
            )
        train = self._train.select("user_id", "item_id")
        users, items = train.select("user_id").distinct(), train.select("item_id").distinct()
        uv = zero_filled_vectors(self._emb, "u:", "user_id", users, self.dim)
        iv = zero_filled_vectors(self._emb, "i:", "item_id", items, self.dim)
        if self.scoring == "lsh":
            return topk_by_cosine_lsh(uv, iv, k=k, train=train)
        return topk_by_cosine(uv, iv, k=k, train=train, all_recs=self.all_recs)
