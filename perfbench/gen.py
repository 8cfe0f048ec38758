"""Seeded input generators for the benchmark.

Both generators are pure functions of their arguments: the same seed
gives byte-identical files, and every seed gives the same stated
properties (vertex and edge counts; exact, near-copy and template
counts), so run-to-run differences come from the program, not from
the inputs.
"""

from __future__ import annotations

import os

import numpy as np


# ---------------------------------------------------------------------------
# graph-bsp: layered, Zipf-skewed directed edge list
# ---------------------------------------------------------------------------
# graph shape: path components off the giant one, and the Zipf exponent
# of edge sources
N_SMALL, SMALL_SIZE, ZIPF_A = 8, 4, 1.2


def make_graph(seed: int, n_vertices: int, n_edges: int, layers: int):
    """Returns ``(src, dst)`` int64 arrays of exactly ``n_edges``
    distinct, loop-free directed edges over exactly ``n_vertices`` ids
    ``1..n_vertices``.

    Shape (fixed for every seed, so superstep counts do not depend on
    the seed):

    - a giant component whose vertices sit in ``layers + 1`` layers;
      vertex 1 is layer 0 alone.  Every vertex of layer k > 0 has one
      parent edge from layer k-1, and every other edge joins two layers
      at most one apart, so the directed distance from vertex 1 and the
      undirected distance to it are both exactly the layer index: SSSP
      from 1 and min-label WCC both take ``layers`` supersteps;
    - ``N_SMALL`` path components of ``SMALL_SIZE`` vertices each, off
      the giant component, which SSSP from 1 cannot reach;
    - edge sources follow a Zipf law over a seeded vertex ranking
      (hubs with large out-degree); targets are uniform within the
      chosen layer.
    """
    rng = np.random.default_rng(seed)
    n_small = N_SMALL * SMALL_SIZE
    if (n_vertices - n_small < layers + 1
            or n_edges < n_vertices - 1 - N_SMALL):
        raise ValueError("too few vertices or edges for the requested shape")
    ids = np.arange(2, n_vertices + 1, dtype=np.int64)
    rng.shuffle(ids)
    small_ids = ids[:n_small].reshape(N_SMALL, SMALL_SIZE)
    giant_rest = ids[n_small:]
    # layer sizes: as even as possible over layers 1..L
    bounds = np.linspace(0, len(giant_rest), layers + 1).astype(np.int64)
    members = [np.array([1], dtype=np.int64)] + [
        giant_rest[bounds[k]:bounds[k + 1]] for k in range(layers)
    ]
    sizes = np.array([len(m) for m in members])
    offsets = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    flat = np.concatenate(members)
    flat_layer = np.repeat(np.arange(layers + 1), sizes)

    def zipf_pick(pool: np.ndarray, size: int) -> np.ndarray:
        w = 1.0 / np.arange(1, len(pool) + 1) ** ZIPF_A
        return pool[rng.choice(len(pool), size=size, p=w / w.sum())]

    # parent edges: each vertex of layer k picks a Zipf-popular parent
    # in layer k-1
    src_parts, dst_parts = [], []
    for k in range(1, layers + 1):
        ranked = rng.permutation(members[k - 1])
        src_parts.append(zipf_pick(ranked, len(members[k])))
        dst_parts.append(members[k])
    for comp in small_ids:
        src_parts.append(comp[:-1])
        dst_parts.append(comp[1:])
    tree_src = np.concatenate(src_parts)
    tree_dst = np.concatenate(dst_parts)

    # extra edges: Zipf source over the whole giant component, target
    # uniform in a layer at most one away from the source's layer
    n_extra = n_edges - len(tree_src)
    ranked_all = rng.permutation(flat)
    pos_of = {v: i for i, v in enumerate(flat.tolist())}
    extra_src_l, extra_dst_l = [], []
    have = set(zip(tree_src.tolist(), tree_dst.tolist()))
    while n_extra > 0:
        m = int(n_extra * 1.3) + 64
        s = zipf_pick(ranked_all, m)
        sl = flat_layer[np.fromiter((pos_of[v] for v in s.tolist()),
                                    dtype=np.int64, count=m)]
        dl = np.clip(sl + rng.integers(-1, 2, size=m), 1, layers)
        d = flat[offsets[dl] + (rng.random(m) * sizes[dl]).astype(np.int64)]
        for a, b in zip(s.tolist(), d.tolist()):
            if a != b and (a, b) not in have:
                have.add((a, b))
                extra_src_l.append(a)
                extra_dst_l.append(b)
                n_extra -= 1
                if n_extra == 0:
                    break
    src = np.concatenate([tree_src, np.array(extra_src_l, dtype=np.int64)])
    dst = np.concatenate([tree_dst, np.array(extra_dst_l, dtype=np.int64)])
    order = rng.permutation(len(src))
    return src[order], dst[order]


def write_edge_list(path: str, src: np.ndarray, dst: np.ndarray) -> None:
    """Plain ``src dst`` text edge list with a ``#`` comment header."""
    with open(path, "w") as f:
        f.write(f"# {len(np.union1d(src, dst))} vertices {len(src)} edges\n")
        f.write("\n".join(f"{a} {b}" for a, b in zip(src.tolist(),
                                                     dst.tolist())))
        f.write("\n")


# ---------------------------------------------------------------------------
# corpus-dedup: unique docs, exact copies, near copies, one template family
# ---------------------------------------------------------------------------
def _vocab(rng, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=n)
    words = {"".join(rng.choice(letters, size=k)) for k in lens.tolist()}
    return sorted(words)


# corpus shape: words per document, shares of exact and near copies,
# share of words a near copy replaces, and the template family's size
WORDS, EXACT_FRAC, NEAR_FRAC, EDIT_FRAC, TEMPLATE_DOCS = 40, 0.25, 0.15, 0.03, 96


def make_corpus(seed: int, n_docs: int):
    """Returns ``(doc_ids, texts, counts)``.

    ``counts`` holds the stated properties: ``unique`` source documents,
    ``exact`` verbatim copies of them, ``near`` copies with
    ``EDIT_FRAC`` of their words replaced, and ``template`` documents
    of one family that differ only in their last word, so their MinHash
    band keys coincide and one LSH bucket holds more than 64 docs.
    Ids are a seeded permutation of ``1..n_docs``.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 6000)
    zw = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zw /= zw.sum()
    n_exact = int(round(n_docs * EXACT_FRAC))
    n_near = int(round(n_docs * NEAR_FRAC))
    n_unique = n_docs - n_exact - n_near - TEMPLATE_DOCS
    if n_unique < 1:
        raise ValueError("n_docs too small for the corpus shape")

    def words(n: int) -> list[str]:
        return [vocab[i] for i in rng.choice(len(vocab), size=n, p=zw)]

    originals = [words(WORDS) for _ in range(n_unique)]
    texts = [" ".join(w) for w in originals]
    for i in rng.integers(0, n_unique, size=n_exact).tolist():
        texts.append(texts[i])
    n_edit = max(1, int(round(WORDS * EDIT_FRAC)))
    for i in rng.integers(0, n_unique, size=n_near).tolist():
        w = list(originals[i])
        for p in rng.choice(WORDS, size=n_edit, replace=False):
            # the "q" suffix keeps a replacement from equalling the word
            w[int(p)] = vocab[int(rng.integers(len(vocab)))] + "q"
        texts.append(" ".join(w))
    stem = " ".join(words(WORDS - 1))
    for j in range(TEMPLATE_DOCS):
        texts.append(f"{stem} item{j}")
    doc_ids = rng.permutation(np.arange(1, n_docs + 1, dtype=np.int64))
    counts = {"unique": n_unique, "exact": n_exact, "near": n_near,
              "template": TEMPLATE_DOCS}
    return doc_ids, texts, counts


def write_corpus(path: str, doc_ids: np.ndarray, texts: list[str]) -> None:
    """One parquet file ``(doc_id bigint, text string)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    order = np.argsort(doc_ids, kind="stable")
    table = pa.table({
        "doc_id": pa.array(doc_ids[order], type=pa.int64()),
        "text": pa.array([texts[i] for i in order.tolist()], type=pa.string()),
    })
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path, compression="snappy")
