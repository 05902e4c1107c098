"""Seeded input generator for the spark-woe benchmark.

Uses numpy, pandas and pyarrow only and never imports the package under
test, so a change to the program cannot change its own inputs.  The same
seed always yields the same bytes (see ``digest``).

Every input is drawn from the committed samples in ``data/`` (cut from the
TPC-H-shaped sf0.1 tables by ``data/make_samples.py``), so value
distributions, the target rate, document lengths, vocabulary, languages,
sources and the near-duplicate rate are the source tables' own.  On top of
them the generator plants only what the source lacks and a workload needs,
each named where it is made:

- 5% NULL ``l_extendedprice`` and 5% NaN ``l_quantity``: the source has no
  missing values, so the median pre-pass would impute nothing.
- PII on every 5th document, in the certified curation query's plant
  format: the source documents carry none, so the scrub would replace
  nothing.
- near-duplicate chains (~5% of base documents root a chain of 2-6 copies,
  each editing ~5% of its predecessor's words) and exact copies of ~2% of
  documents: the source's near-dup components have diameter 1-2, so
  connected components would never need more than a couple of rounds.

Three input sets, one per workload step:

- ``credit_sample``: a bootstrap of lineitem rows (six features; two above
  the fit's ``max_distinct=1024`` cap, four below it; bad flag
  ``l_returnflag == 'R'``).
- ``monitor_inputs``: a second bootstrap, fixed hand-set bins and a seeded
  shift predicate for drift monitoring.
- ``corpus``: whole source near-dup families up to ``CORPUS_BASE_DOCS``
  documents, plus the planted PII, chains and exact copies.

Every generator returns ``(table, properties)``; the properties record what
was produced (missing shares, distinct counts, chain lengths, planted pair
counts, component diameter) so a measured change can be tied to a property.

    python3 perfbench/gen.py --seed 1     # print the properties as JSON
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
from collections import deque

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from checks import components_by_min_id

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

CREDIT_ROWS = 150_000
CREDIT_FEATURES = [
    "l_extendedprice",  # ~all distinct: quantized by the fit
    "l_partkey",  # 20k distinct: quantized by the fit
    "l_suppkey",  # 1,000 distinct
    "l_quantity",  # 50 distinct
    "l_discount",  # 11 distinct
    "l_tax",  # 9 distinct
]
MISSING_SHARE = 0.05
SHIP_YEARS = list(range(1995, 2002))  # the source's 7 ship years

CORPUS_BASE_DOCS = 1_500
CHAIN_ROOT_SHARE = 0.05
CHAIN_COPIES = (2, 6)
CHAIN_EDIT_SHARE = 0.05
EXACT_COPY_SHARE = 0.02
PII_EVERY = 5


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input set: adding a column to one set must not
    shift the draws of another."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def credit_sample(seed: int, stream: str = "credit", rows: int = CREDIT_ROWS):
    """A bootstrap of ``rows`` rows of the lineitem sample.  The k-th repeat
    of a sample row has its price scaled by 1 + k/1000 (the replica salt of
    ``tools/make_sf1.py``), so repeats keep prices near-distinct, as they
    are in the source."""
    src = pq.read_table(os.path.join(DATA, "lineitem.parquet"))
    rng = _rng(seed, stream)
    idx = rng.integers(0, src.num_rows, rows)
    t = src.take(pa.array(idx))
    repeat = pd.Series(idx).groupby(idx).cumcount().to_numpy()
    price = np.round(t.column("l_extendedprice").to_numpy() * (1 + repeat / 1000.0), 2)
    quantity = t.column("l_quantity").to_numpy().copy()
    price_null = rng.random(rows) < MISSING_SHARE
    qty_nan = rng.random(rows) < MISSING_SHARE
    quantity[qty_nan] = np.nan
    table = pa.table(
        {
            "l_orderkey": pa.array(np.arange(1, rows + 1, dtype=np.int64)),
            "l_partkey": t.column("l_partkey"),
            "l_suppkey": t.column("l_suppkey"),
            "l_quantity": pa.array(quantity, from_pandas=False),  # keeps NaN
            "l_extendedprice": pa.array(price, mask=price_null),  # NULLs
            "l_discount": t.column("l_discount"),
            "l_tax": t.column("l_tax"),
            "l_returnflag": t.column("l_returnflag"),
            "l_shipdate": t.column("l_shipdate"),
        }
    )
    flag = t.column("l_returnflag").to_numpy(zero_copy_only=False)
    props = {
        "rows": rows,
        "bad_share": round(float((flag == "R").mean()), 6),
        "repeated_rows": int((repeat > 0).sum()),
        "missing_share": {
            "l_extendedprice": round(float(price_null.mean()), 6),
            "l_quantity": round(float(qty_nan.mean()), 6),
        },
        # NULL and NaN excluded
        "distinct": {f: int(table.column(f).to_pandas().nunique()) for f in CREDIT_FEATURES},
    }
    return table, props


def nanmedians(table: pa.Table, features) -> dict[str, float]:
    """Per-feature median over non-missing values (NULL and NaN both count as
    missing), as ``numpy.nanmedian`` computes it."""
    out = {}
    for f in features:
        vals = table.column(f).to_numpy(zero_copy_only=False).astype(np.float64)
        out[f] = float(np.nanmedian(vals))
    return out


def monitor_bins() -> pd.DataFrame:
    """Fixed hand-set scoring bins on four features (price cuts near the
    source's quartiles, 26,960 / 52,923 / 78,997); the outer edges are
    infinite."""
    inf = float("inf")
    spec = {
        "l_extendedprice": ([-inf, 27_000.0, 53_000.0, 79_000.0, inf],
                            [-0.35, -0.1, 0.15, 0.4]),
        "l_quantity": ([-inf, 13.0, 26.0, 39.0, inf], [-0.5, -0.15, 0.15, 0.5]),
        "l_discount": ([-inf, 0.03, 0.07, inf], [0.25, 0.0, -0.25]),
        "l_tax": ([-inf, 0.03, 0.06, inf], [-0.05, 0.0, 0.05]),
    }
    rows = []
    for var, (cuts, woes) in spec.items():
        for i, w in enumerate(woes):
            rows.append((var, cuts[i], cuts[i + 1], w, 0.05 * abs(w) + 0.01))
    return pd.DataFrame(
        rows,
        columns=["variable", "interval_start_include", "interval_end_exclude",
                 "woe", "iv_components"],
    )


def monitor_inputs(seed: int):
    """Monitored sample, fixed bins and the seeded shift predicate
    (``l_tax > tax_cut``) for drift monitoring."""
    table, props = credit_sample(seed, "monitor")
    bins = monitor_bins()
    features = list(dict.fromkeys(bins["variable"]))
    tax_cut = float(_rng(seed, "monitor-shift").choice([0.02, 0.03, 0.04, 0.05]))
    props.update(
        {
            "bins": int(len(bins)),
            "variables": len(features),
            "shift_tax_cut": tax_cut,
            "ship_years": len(SHIP_YEARS),
        }
    )
    return table, bins, tax_cut, props


# -- corpus -------------------------------------------------------------------

def _shingles(words: list[str], n: int = 3) -> set[str]:
    """Word 3-gram set of a whitespace-tokenised lowercase document."""
    if len(words) <= n:
        return {" ".join(words)}
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def _edit(rng: np.random.Generator, words: list[str], vocab: list[str]) -> list[str]:
    """Replace ~``CHAIN_EDIT_SHARE`` of the words, each by another word of
    the vocabulary."""
    out = list(words)
    k = max(1, int(round(CHAIN_EDIT_SHARE * len(out))))
    index = {w: i for i, w in enumerate(vocab)}
    for pos in rng.choice(len(out), k, replace=False):
        i = index[out[pos]] + int(rng.integers(1, len(vocab)))
        out[pos] = vocab[i % len(vocab)]
    return out


def _pii(doc_id: int) -> str:
    """The certified curation query's PII plant (``queries_catalog._plant_pii``,
    base form): an email, an IPv4 address and a phone number."""
    return (f" contact user{doc_id}@example.com at 10.0.{doc_id % 256}.1"
            f" or 555-867-{doc_id % 10000:04d}")


def _diameter(adj: dict[int, set[int]], nodes: list[int]) -> int:
    """Exact diameter of one small connected component (BFS from each node)."""
    best = 0
    for s in nodes:
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        best = max(best, max(dist.values()))
    return best


def _source_families(src: pd.DataFrame) -> np.ndarray:
    """Near-dup family of each source document: the source marks a near-dup
    copy by appending ``dup`` tokens to its original's text."""
    key = src["text"].str.replace(r"(\s+dup\b)+", "", regex=True)
    return pd.factorize(key)[0]


def corpus(seed: int, base_docs: int = CORPUS_BASE_DOCS):
    """Documents ``(doc_id, text, lang, source, n_chars)``.

    Base documents are whole source near-dup families, drawn in seeded order
    until at least ``base_docs`` documents are taken, so the source's
    near-dup rate carries over.  ~5% of them root a near-dup chain of 2-6
    copies, each editing ~5% of its predecessor's words; ~2% of all
    documents get an exact copy.  Copies keep their original's language and
    source.  Ids are shuffled so chain members are not adjacent; every 5th
    id gets the PII plant."""
    rng = _rng(seed, "corpus")
    src = pq.read_table(os.path.join(DATA, "documents.parquet")).to_pandas()
    fam = _source_families(src)
    sizes = np.bincount(fam)
    taken = rng.permutation(sizes.size)
    taken = taken[: int(np.searchsorted(np.cumsum(sizes[taken]), base_docs)) + 1]
    base = src[np.isin(fam, taken)]
    docs = [t.split() for t in base["text"]]
    family = list(fam[base.index])
    lang, source = list(base["lang"]), list(base["source"])
    vocab = sorted({w for d in docs for w in d})
    n_base = len(docs)

    def copy(i: int, words: list[str]) -> None:
        docs.append(words)
        family.append(family[i])
        lang.append(lang[i])
        source.append(source[i])

    roots = rng.choice(n_base, int(CHAIN_ROOT_SHARE * n_base), replace=False)
    chain_lengths = []
    for i, r in enumerate(roots):
        # lengths cycle through 2..6, so every seed plants the same histogram
        k = CHAIN_COPIES[0] + i % (CHAIN_COPIES[1] - CHAIN_COPIES[0] + 1)
        chain_lengths.append(k)
        prev = docs[r]
        for _ in range(k):
            prev = _edit(rng, prev, vocab)
            copy(int(r), prev)
    exact_src = rng.choice(len(docs), int(EXACT_COPY_SHARE * len(docs)), replace=False)
    for s in exact_src:
        copy(int(s), list(docs[s]))

    ids = rng.permutation(len(docs)).astype(np.int64)
    texts = [" ".join(w) + (_pii(int(d)) if d % PII_EVERY == 0 else "")
             for w, d in zip(docs, ids)]
    order = np.argsort(ids)
    table = pa.table(
        {
            "doc_id": pa.array(ids[order]),
            "text": pa.array([texts[i] for i in order]),
            "lang": pa.array([lang[i] for i in order]),
            "source": pa.array([source[i] for i in order]),
            "n_chars": pa.array(np.array([len(texts[i]) for i in order], dtype=np.int64)),
        }
    )

    # planted near-dup graph: exact word-3-gram Jaccard within each family
    # (independent base docs share almost no 3-grams, so no cross-family
    # edge reaches these thresholds)
    members: dict[int, list[int]] = {}
    for i, f in enumerate(family):
        members.setdefault(f, []).append(i)
    planted = {}
    for t in (0.5, 0.7):
        adj: dict[int, set[int]] = {}
        for group in members.values():
            sh = {i: _shingles(texts[i].lower().split()) for i in group}
            for x, a in enumerate(group):
                for b in group[x + 1:]:
                    if _jaccard(sh[a], sh[b]) >= t:
                        adj.setdefault(a, set()).add(b)
                        adj.setdefault(b, set()).add(a)
        edges = [(a, b) for a, nbrs in adj.items() for b in nbrs if a < b]
        comps: dict[int, list[int]] = {}
        labels = components_by_min_id([a for a, _ in edges], [b for _, b in edges])
        for node, root in labels.items():
            comps.setdefault(root, []).append(node)
        planted[f"jaccard_{t}"] = {
            "pairs": len(edges), "nodes": len(adj), "components": len(comps),
            "max_diameter": max((_diameter(adj, c) for c in comps.values()), default=0),
        }
    props = {
        "docs": len(docs),
        "base_docs": n_base,
        "source_near_dup_docs": int(sizes[taken][sizes[taken] > 1].sum()),
        "vocabulary": len(vocab),
        "base_words_mean": round(float(np.mean([len(d) for d in docs[:n_base]])), 3),
        "chains": len(chain_lengths),
        "chain_copies": int(sum(chain_lengths)),
        "chain_length_hist": {
            str(k): chain_lengths.count(k)
            for k in range(CHAIN_COPIES[0], CHAIN_COPIES[1] + 1)
        },
        "exact_copies": int(len(exact_src)),
        "pii_docs": int((ids % PII_EVERY == 0).sum()),
        "planted": planted,
    }
    return table, props


def digest(table: pa.Table) -> str:
    """sha256 over the table's Arrow IPC stream bytes."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    _, credit = credit_sample(args.seed)
    *_, monitor = monitor_inputs(args.seed)
    _, docs = corpus(args.seed)
    print(json.dumps({"credit": credit, "monitor": monitor, "corpus": docs}, indent=1))


if __name__ == "__main__":
    main()
