"""Seeded input generator: the ten fixture tables, plus incoming document
batches for the streaming gates.

The tables follow the schemas and value domains the engine reads
(``wsu_cpts_415_spark.schemas``): a TPC-H-like star schema, a clickstream
``events`` table, a ``documents`` word-soup corpus with planted near
duplicates and a labelled ``embeddings`` table.  Row counts depend only
on the scale factor, so every seed costs the same work; values depend
only on the seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from wsu_cpts_415_spark.queries.llm_filters import LINE_TOKENS

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "red", "blue", "hot", "cold", "new", "old", "large")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "anvil", "plate", "rod")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated dataset."""

    sf: float
    documents: int
    embeddings: int

    @property
    def counts(self) -> dict[str, int]:
        sf = self.sf
        return {
            "customer": int(150_000 * sf),
            "supplier": max(10, int(10_000 * sf)),
            "part": int(200_000 * sf),
            "orders": int(1_500_000 * sf),
            "lineitem": int(6_000_000 * sf),
            "events": int(1_000_000 * sf),
            "users": max(15, int(15_000 * sf)),
        }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, domain, n: int, p=None) -> list[str]:
    return list(np.asarray(domain, dtype=object)[rng.choice(len(domain), n, p=p)])


def random_text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def _documents(rng, n: int) -> pa.Table:
    """Word-soup corpus; about one doc in twenty is an earlier doc plus the
    token ``dup`` (a near duplicate), one in a hundred repeats its own text."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif roll < 0.06:
            half = random_text(rng, int(rng.integers(8, 40)))
            texts.append(half + " " + half)
        else:
            texts.append(random_text(rng, int(rng.integers(10, 100))))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(flat, dim).cast(
                pa.list_(pa.float32())
            ),
            "label": labels,
        }
    )


def tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    c = scale.counts
    n_cust, n_supp, n_part = c["customer"], c["supplier"], c["part"]
    n_ord, n_li, n_ev = c["orders"], c["lineitem"], c["events"]
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(_pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(EPOCH_1995 + order_day * DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    l_order = np.sort(rng.integers(0, n_ord, n_li)).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _ts(
                EPOCH_1995 + (order_day[l_order] + rng.integers(1, 95, n_li)) * DAY_US
            ),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + EPOCH_2024
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, c["users"], n_ev).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, scale.documents)
    out["embeddings"] = _embeddings(rng, scale.embeddings)
    return out


def write_tables(seed: int, scale: Scale, out_dir: str) -> str:
    """Write the fixture tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# Share of each kind of incoming document.  The dedup gate admits novel
# documents; the line gate admits novel ones and heavy edits, whose 8-token
# lines are mostly new although their word bigrams are not.  Light edits of
# short documents also pass the line gate now and then.  NOVEL and HEAVY
# are set so that the gates admit about what they admitted on a measured
# stream of 1,423 documents in 8 batches: 127 (8.9%) passed the dedup gate
# and 306 (21.5%) the line gate.  Nothing measured splits the rejected rest
# between verbatim copies and light edits, so it is split evenly.
NOVEL = 0.09
HEAVY = 0.065
EXACT = (1.0 - NOVEL - HEAVY) / 2


@dataclass(frozen=True)
class Batches:
    """Incoming document batches for the streaming gates, with the ids of
    the verbatim copies of corpus docs the generator planted (every one
    must be rejected by the dedup gate)."""

    batches: list[pa.Table]
    exact: frozenset[int]


def _other_word(rng, word: str) -> str:
    while True:
        w = WORDS[int(rng.integers(0, len(WORDS)))]
        if w != word:
            return w


def _light_edit(rng, text: str) -> str:
    """A few tokens swapped and one appended: most lines and bigrams kept."""
    toks = text.split()
    for _ in range(max(1, len(toks) // 25)):
        i = int(rng.integers(0, len(toks)))
        toks[i] = _other_word(rng, toks[i])
    return " ".join(toks) + " " + WORDS[int(rng.integers(0, len(WORDS)))]


def _heavy_edit(rng, text: str) -> str:
    """One token changed in just over half of the 8-token lines, two
    neighbouring lines at a time at their shared boundary, so that few
    bigrams break: the bigram Jaccard to the source stays near 0.7-0.8
    while most lines are new."""
    toks = text.split()
    n_lines = -(-len(toks) // LINE_TOKENS)
    for line in range(n_lines // 2 + 1):
        pos = LINE_TOKENS * line + (LINE_TOKENS - 1 if line % 2 == 0 else 0)
        pos = min(pos, len(toks) - 1)
        toks[pos] = _other_word(rng, toks[pos])
    return " ".join(toks)


def incoming_batches(
    seed: int, corpus: pa.Table, n_batches: int, per_batch: int
) -> Batches:
    """Each batch holds, in a seeded order, the same number of novel docs
    (``NOVEL``), heavy edits of corpus docs of at least 24 tokens
    (``HEAVY``), verbatim copies of corpus docs (``EXACT``) and light
    edits of corpus or earlier incoming docs (the rest), so every seed
    streams the same mix.  Doc ids continue after the corpus."""
    rng = np.random.default_rng(seed + 1)
    corpus_text = corpus.column("text").to_pylist()
    long_text = [t for t in corpus_text if len(t.split()) >= 3 * LINE_TOKENS]
    seen = list(corpus_text)
    next_id = len(corpus_text)
    counts = {k: round(share * per_batch) for k, share in (("novel", NOVEL), ("heavy", HEAVY), ("exact", EXACT))}
    kinds = [k for k, n in counts.items() for _ in range(n)]
    kinds += ["light"] * (per_batch - len(kinds))
    exact: set[int] = set()
    out: list[pa.Table] = []
    for _ in range(n_batches):
        ids, texts = [], []
        for kind in rng.permutation(kinds):
            if kind == "novel":
                texts.append(random_text(rng, int(rng.integers(10, 100))))
            elif kind == "heavy":
                texts.append(_heavy_edit(rng, long_text[int(rng.integers(0, len(long_text)))]))
            elif kind == "exact":
                texts.append(corpus_text[int(rng.integers(0, len(corpus_text)))])
                exact.add(next_id)
            else:
                texts.append(_light_edit(rng, seen[int(rng.integers(0, len(seen)))]))
            ids.append(next_id)
            next_id += 1
        seen.extend(texts)
        out.append(pa.table({"doc_id": np.array(ids, dtype=np.int64), "text": texts}))
    return Batches(out, frozenset(exact))
