"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow on the driver: the same seed writes
byte-identical files, and nothing is downloaded.

* :func:`make_ml100k` writes a raw ml-100k-format dataset (``u.data``,
  ``u.item``, ``u.user``), an offline DBpedia-style (label, uri) dump
  with near-miss labels, and a multi-valued (URI, subject, director)
  property dump.
* :func:`make_tables` writes the TPC-H-shaped star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables that the registry
  queries read, in the layout of the repo's sf-scaled test data (one
  parquet file per table).
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- ml-100k

_SYLLABLES = (
    "ka lo mi ra te su no vi da pe zo ru ha bi ne fo ga li mo ta "
    "ve ri sa ko du pa ze lu ho ji"
).split()
_ARTICLES = ("The", "A", "An")
_OCCUPATIONS = ("student", "engineer", "educator", "writer", "artist", "other")
_DBR = "http://dbpedia.org/resource/"


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct capitalized pseudo-words of 2-3 syllables."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 4))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            out.append(w.capitalize())
    return out


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _expected_links(names: list[str], labels: list[str], uris: list[str]) -> list:
    """The URI entity linking must pick for each item, replayed in
    Python: candidates are labels matching the item's anchored
    ``^w1.*w2$`` title pattern; the winner has the smallest edit
    distance, then the shortest label, then the smallest URI."""
    lowered = [lb.lower() for lb in labels]
    out = []
    for name in names:
        n = name.lower()
        pat = re.compile("^" + re.sub(r"\s+", ".*", n.strip()) + "$")
        cands = [
            (_levenshtein(n, lb), len(lb), uri)
            for lb, uri in zip(lowered, uris)
            if pat.search(lb)
        ]
        out.append(min(cands)[2] if cands else None)
    return out


def make_ml100k(
    out_dir: str,
    seed: int,
    n_users: int = 240,
    n_items: int = 300,
    n_communities: int = 6,
    mean_degree: float = 45.0,
    link_share: float = 0.8,
) -> dict:
    """Write ``out_dir/raw/{u.data,u.item,u.user}`` plus
    ``out_dir/labels.parquet`` and ``out_dir/properties.parquet``.

    Items fall into taste communities; users favour one community, and
    items of a community share planted DBpedia subject and director
    values, so the KG-aware models have signal to find. About
    ``link_share`` of the items have a correct label in the dump, next
    to a near-miss that matches the same title pattern at a worse edit
    distance; the others have only a label their pattern rejects.
    Returns the generator's facts, including the URI entity linking must
    pick for every item."""
    rng = np.random.default_rng(seed)
    raw = os.path.join(out_dir, "raw")
    os.makedirs(raw, exist_ok=True)

    vocab = _words(rng, 3 * n_items)
    titles, normalized = [], []
    for i in range(n_items):
        stem = f"{vocab[3 * i]} {vocab[3 * i + 1]}"
        year = 1930 + int(rng.integers(0, 68))
        if rng.random() < 0.2:
            art = _ARTICLES[int(rng.integers(0, len(_ARTICLES)))]
            titles.append(f"{stem}, {art} ({year})")
            normalized.append(f"{art} {stem}")
        else:
            titles.append(f"{stem} ({year})")
            normalized.append(stem)

    item_comm = rng.integers(0, n_communities, n_items)
    user_comm = rng.integers(0, n_communities, n_users)
    pop = np.arange(1, n_items + 1, dtype=np.float64) ** -0.6
    pop = 0.6 * pop[rng.permutation(n_items)] / pop.sum() + 0.4 / n_items
    degrees = np.clip(
        rng.lognormal(np.log(mean_degree), 0.5, n_users), 12, n_items // 2
    ).astype(np.int64)
    rows = []
    for u in range(n_users):
        w = pop * (1.0 + 12.0 * (item_comm == user_comm[u]))
        picks = rng.choice(n_items, size=int(degrees[u]), replace=False, p=w / w.sum())
        for it in picks:
            same = item_comm[it] == user_comm[u]
            stars = int(np.clip(rng.normal(3.9 if same else 2.8, 0.9), 1, 5))
            ts = 874_724_710 + int(rng.integers(0, 18_000_000))
            rows.append(f"{u + 1}\t{it + 1}\t{stars}\t{ts}\n")
    with open(os.path.join(raw, "u.data"), "w") as fh:
        fh.writelines(rows)
    with open(os.path.join(raw, "u.item"), "w", encoding="latin-1") as fh:
        for i, t in enumerate(titles):
            genres = "|".join(str(int(b)) for b in rng.random(19) < 0.1)
            fh.write(f"{i + 1}|{t}|01-Jan-1995||http://example.org/{i + 1}|{genres}\n")
    with open(os.path.join(raw, "u.user"), "w") as fh:
        for u in range(n_users):
            age = int(rng.integers(18, 70))
            g = "M" if rng.random() < 0.7 else "F"
            occ = _OCCUPATIONS[int(rng.integers(0, len(_OCCUPATIONS)))]
            fh.write(f"{u + 1}|{age}|{g}|{occ}|{10000 + u}\n")

    # offline label dump: linked items get their exact label plus a
    # near-miss that matches the same title pattern at a worse edit
    # distance; unlinked items get only a label with a trailing extra
    # word, which their anchored pattern rejects; plus distractors
    linked = rng.random(n_items) < link_share
    labels, uris = [], []
    for i in range(n_items):
        a, b = normalized[i].rsplit(" ", 1)
        extra = vocab[3 * i + 2]
        if linked[i]:
            labels += [normalized[i], f"{a} {extra} {b}"]
            uris += [f"{_DBR}Film_{i + 1}", f"{_DBR}Near_{i + 1}"]
        else:
            labels.append(f"{normalized[i]} {extra}")
            uris.append(f"{_DBR}Near_{i + 1}")
    for w in vocab[: n_items // 4]:
        labels.append(f"{w} Documentary")
        uris.append(f"{_DBR}Doc_{w}")
    order = rng.permutation(len(labels))
    labels = [labels[j] for j in order]
    uris = [uris[j] for j in order]
    pq.write_table(
        pa.table({"label": pa.array(labels), "uri": pa.array(uris)}),
        os.path.join(out_dir, "labels.parquet"),
    )
    expected_uri = _expected_links(normalized, labels, uris)

    # property dump: several subject rows and one or two director rows
    # per URI; most values are shared within the item's community
    p_uri, p_subj, p_dir = [], [], []
    for i in range(n_items):
        uri = f"{_DBR}Film_{i + 1}"
        c = int(item_comm[i])
        subs = {f"Category:Community_{c}_{int(rng.integers(0, 3))}" for _ in range(2)}
        subs.add(f"Category:Decade_{int(rng.integers(0, 7))}")
        dirs = {f"Director_{c}_{int(rng.integers(0, 4))}"}
        if rng.random() < 0.2:
            dirs.add(f"Director_{int(rng.integers(0, 40))}")
        for s in sorted(subs):
            p_uri.append(uri)
            p_subj.append(s)
            p_dir.append(None)
        for d in sorted(dirs):
            p_uri.append(uri)
            p_subj.append(None)
            p_dir.append(d)
    pq.write_table(
        pa.table({
            "URI": pa.array(p_uri),
            "subject": pa.array(p_subj, pa.string()),
            "director": pa.array(p_dir, pa.string()),
        }),
        os.path.join(out_dir, "properties.parquet"),
    )
    facts = {
        "n_users": n_users,
        "n_items": n_items,
        "n_ratings": len(rows),
        "n_labels": len(labels),
        "n_property_rows": len(p_uri),
        "linked_items": sum(u is not None for u in expected_uri),
        "expected_uri": {str(i + 1): u for i, u in enumerate(expected_uri)},
        "users_with_20": int((degrees >= 20).sum()),
    }
    with open(os.path.join(out_dir, "facts.json"), "w") as fh:
        json.dump(facts, fh)
    return facts


# ------------------------------------------------------------ star schema

_DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PART_WORDS = ("large", "hot", "blue", "red", "new", "small", "cold", "shiny")
_PART_NOUNS = ("ring", "bolt", "rod", "plate", "gear", "anvil", "nut", "pipe")
_PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_US_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
_US_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_DAY_US = 86_400_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary with ~5%
    near-duplicates (an earlier document plus a ``dup`` token) and a few
    exact duplicates, as in the repo's test data."""
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_DOC_VOCAB[j] for j in rng.integers(0, 30, n)))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[j] for j in rng.choice(5, n_docs, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_tables(out_dir: str, seed: int, scale: float) -> dict:
    """TPC-H-shaped tables at scale factor ``scale`` (0.1 = 150k orders,
    600k lineitems, 5k documents, 2k embeddings — the shape of the
    repo's sf0.1 test data) plus events/documents/embeddings. Returns
    the row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(50, int(15_000 * scale))
    n_docs = max(200, int(50_000 * scale))
    n_vec = max(100, int(20_000 * scale))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(list(_REGIONS)),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array([_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([
            f"{_PART_WORDS[a]} {_PART_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([_PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("O", "F", "P")[j] for j in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _ts(_US_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": pa.array([_PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("N", "R", "A")[j] for j in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(_US_1995 + rng.integers(1, 2500, n_li) * _DAY_US),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(_US_2024 + ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array([_EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]),
    })
    pq.write_table(_documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    vec = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_li, "events": n_ev,
        "documents": n_docs, "embeddings": n_vec,
    }
