"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed and size arguments and
writes plain parquet / text files, so Spark (the system under test) and
DuckDB (the correctness checks) read byte-identical inputs. No Spark
import: generation is NumPy + pyarrow only.

Web graph (the three crawl workloads):
  * pages are spread over ``n_domains`` pay-level domains with Zipf
    weights, one host (``www.<pld>``) per domain;
  * every page has ``out_degree`` outlinks: half inside its own domain,
    half to pages drawn over the whole graph (so big domains attract
    most cross links), and a small share to URLs that are not pages
    (they fetch as HTTP_NOT_FOUND);
  * a share of pages sit under ``/private/``; a share of hosts serve a
    robots.txt that disallows that prefix and sets a crawl delay.

Text corpus (curation_mix): the three tables the twelve queries read —
``documents`` (word salad with ~10% near-duplicate pairs),
``embeddings`` (unit 64-d vectors in 10 label clusters) and ``part``.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# the corpus follows the repository's full-scale generator: same vocabulary,
# language mix and part-name grammar (its docstring says where they come from)
from tools.gen_full_sf import LANGS, P_ADJ, P_NOUN, P_TYPES, VOCAB  # noqa: E402

# Seed used while the benchmark was written; confirm later claims on
# HELDOUT_SEED, which was never used to tune anything.
DEFAULT_SEED = 1
HELDOUT_SEED = 9001

ROBOTS_BODY = "User-agent: *\nDisallow: /private/\nCrawl-delay: {delay}\n"
TLDS = ("com", "org", "net", "io")


@dataclass(frozen=True)
class GraphSpec:
    n_pages: int
    n_domains: int
    out_degree: int = 8
    zipf_s: float = 1.0
    private_share: float = 0.08
    robots_share: float = 0.3
    dangling_share: float = 0.03


@dataclass(frozen=True)
class GraphFiles:
    edges: str  # parquet: page_url, page_score, outlink_pos, outlink_url
    pages_html: str  # parquet: page_url, page_score, html (the mock web)
    robots: str  # parquet: robots_url, body
    pages: list[str]  # every page URL, in generation order


def _domain_names(n_domains: int) -> np.ndarray:
    return np.array(
        [f"site{d:05d}.{TLDS[d % len(TLDS)]}" for d in range(n_domains)], dtype=object
    )


def make_web_graph(seed: int, spec: GraphSpec, out_dir: str) -> GraphFiles:
    """Write the seed's web graph and robots table under ``out_dir``."""
    rng = np.random.default_rng(seed)
    n, d = spec.n_pages, spec.n_domains
    weights = 1.0 / np.arange(1, d + 1) ** spec.zipf_s
    # shuffle which domain gets which Zipf rank, so names carry no rank
    weights = weights[rng.permutation(d)]
    dom = rng.choice(d, size=n, p=weights / weights.sum())
    dom.sort(kind="stable")  # pages of one domain are contiguous
    starts = np.searchsorted(dom, np.arange(d))
    ends = np.searchsorted(dom, np.arange(d), side="right")

    names = _domain_names(d)
    private = rng.random(n) < spec.private_share
    page_ids = rng.permutation(n)  # page names carry no order either
    pages = [
        f"http://www.{names[dom[i]]}/{'private/' if private[i] else ''}p{page_ids[i]}.html"
        for i in range(n)
    ]
    pages_arr = np.array(pages, dtype=object)

    k = spec.out_degree
    src = np.repeat(np.arange(n), k)
    local = rng.random(n * k) < 0.5
    sd = dom[src]
    span = ends[sd] - starts[sd]
    local_tgt = starts[sd] + (rng.random(n * k) * span).astype(np.int64)
    global_tgt = rng.integers(0, n, size=n * k)
    tgt = np.where(local, local_tgt, global_tgt)
    dangling = rng.random(n * k) < spec.dangling_share
    out_urls = pages_arr[tgt].copy()
    dang_idx = np.flatnonzero(dangling)
    out_urls[dang_idx] = [
        f"http://www.{names[sd[j]]}/missing{j}.html" for j in dang_idx
    ]
    edges = pa.table(
        {
            "page_url": pa.array(pages_arr[src], pa.string()),
            "page_score": pa.array(np.ones(n * k), pa.float64()),
            "outlink_pos": pa.array(np.tile(np.arange(k, dtype=np.int32), n), pa.int32()),
            "outlink_url": pa.array(out_urls, pa.string()),
        }
    )

    # the mock web, rendered as the fixtures' render_pages does (title
    # carries the score; one anchor per outlink, in outlink order)
    anchors = np.char.add(np.char.add('<a href="', out_urls.astype(str)), '">')
    anchors = np.char.add(np.char.add(anchors, out_urls.astype(str)), "</a>")
    html = [
        "<html><head><title>score=1.0</title></head><body>\n"
        + "\n".join(anchors[i * k : (i + 1) * k])
        + "\n</body></html>"
        for i in range(n)
    ]
    pages_tbl = pa.table(
        {
            "page_url": pa.array(pages_arr, pa.string()),
            "page_score": pa.array(np.ones(n), pa.float64()),
            "html": pa.array(html, pa.string()),
        }
    )

    robots_doms = np.flatnonzero(rng.random(d) < spec.robots_share)
    delays = rng.choice([5, 20], size=len(robots_doms))
    robots = pa.table(
        {
            "robots_url": pa.array(
                [f"http://www.{names[x]}/robots.txt" for x in robots_doms], pa.string()
            ),
            "body": pa.array([ROBOTS_BODY.format(delay=int(s)) for s in delays], pa.string()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    edges_path = os.path.join(out_dir, "web_graph.parquet")
    pages_path = os.path.join(out_dir, "pages.parquet")
    robots_path = os.path.join(out_dir, "robots.parquet")
    pq.write_table(edges, edges_path)
    pq.write_table(pages_tbl, pages_path)
    pq.write_table(robots, robots_path)
    return GraphFiles(edges_path, pages_path, robots_path, pages)


def pick_seeds(seed: int, pages: list[str], n_seeds: int) -> list[str]:
    """``n_seeds`` distinct public pages, deterministic for ``seed``."""
    public = [p for p in pages if "/private/" not in p]
    rng = np.random.default_rng(seed + 7919)
    idx = rng.choice(len(public), size=n_seeds, replace=False)
    return sorted(public[i] for i in idx)


def write_seed_file(path: str, seeds: list[str]) -> None:
    """Seed list in the CLI's text format (``#`` comments are skipped)."""
    with open(path, "w") as fh:
        fh.write("# benchmark seeds\n")
        fh.writelines(f"{u}\n" for u in seeds)


def make_corpus(seed: int, out_dir: str, *, n_docs: int, n_vecs: int, n_parts: int) -> str:
    """Write documents/embeddings/part parquet (the schemas of TESTDATA.md)."""
    rng = np.random.default_rng(seed + 104729)
    os.makedirs(out_dir, exist_ok=True)

    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 10 == 1:  # near-copy of the previous document
            texts.append("dup " + texts[i - 1])
        else:
            words = vocab[rng.integers(0, len(vocab), size=int(rng.integers(10, 80)))]
            texts.append(" ".join(words))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[x] for x in rng.integers(0, len(LANGS), n_docs)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    labels = rng.integers(0, 10, size=n_vecs).astype(np.int32)
    centroids = rng.uniform(-1.0, 1.0, size=(10, 64))
    raw = centroids[labels] + rng.uniform(-0.5, 0.5, size=(n_vecs, 64))
    emb = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    embs = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )

    ids = np.arange(n_parts)
    part = pa.table(
        {
            "p_partkey": pa.array(ids, pa.int64()),
            "p_name": pa.array(
                [
                    f"{P_ADJ[a]} {P_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, len(P_ADJ), n_parts), rng.integers(0, len(P_NOUN), n_parts)
                    )
                ],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{x}" for x in rng.integers(0, 25, n_parts)], pa.string()),
            "p_type": pa.array([P_TYPES[x] for x in rng.integers(0, len(P_TYPES), n_parts)], pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_parts).astype(np.int32), pa.int32()),
            "p_retailprice": pa.array(900.0 + (ids % 20_000) / 10.0, pa.float64()),
        }
    )
    for name, table in (("documents", docs), ("embeddings", embs), ("part", part)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
