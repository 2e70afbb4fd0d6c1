"""Seeded input generators for the link-graph benchmark (numpy only).

Every generator is a pure function of ``(workload sizes, seed)``: the same
seed yields byte-identical inputs, a different seed yields a different
graph of the same size. Inputs are written as parquet (the program only
ever sees the parquet) plus an ``.npz`` of the arrays the oracles need.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = np.array([
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
    "xray", "yankee", "zulu", "graph", "spark", "vector", "matrix", "rank",
    "crawl",
])


def web_graph(seed: int, n: int, m: int, dangling: float, skew: float,
              hub_in: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Dense-id directed graph with exactly ``n`` vertices and ``m`` edges.

    * a ``dangling`` share of the ids has no out-edge; every other id has
      at least one (so the dangling share is exact);
    * destinations follow a preferential-attachment-like power law: the
      vertex at popularity rank ``r`` is hit with probability ∝ r^(1/skew-1)
      under a seeded random permutation of ids;
    * ``hub_in > 0`` adds that many extra in-edges to one hub (a vertex
      above the salting threshold), drawn from random live sources.
    No self-loops; duplicate edges are kept (they add transition weight).
    """
    rng = np.random.default_rng(seed)
    ids = rng.permutation(n)
    n_dead = int(round(dangling * n))
    live = np.sort(ids[n_dead:])
    base = m - hub_in
    if base < len(live):
        raise ValueError("too few edges for one out-edge per live vertex")
    src = np.concatenate([live, live[rng.integers(0, len(live), base - len(live))]])
    popularity = rng.permutation(n)
    dst = popularity[(n * rng.random(base) ** skew).astype(np.int64)]
    if hub_in:
        hub = popularity[0]
        src = np.concatenate([src, live[rng.integers(0, len(live), hub_in)]])
        dst = np.concatenate([dst, np.full(hub_in, hub)])
    loop = src == dst
    dst[loop] = (dst[loop] + 1) % n
    # a self-loop fix can only land on another vertex: dangling set unchanged
    return src.astype(np.int64), dst.astype(np.int64)


def crawl_pages(seed: int, n_pages: int, n_sites: int, n_external: int,
                dangling: float) -> dict[str, np.ndarray]:
    """A Common-Crawl-style pages table whose html carries the outlinks.

    Pages are grouped into ``n_sites`` contiguous sites. Most links stay
    near their page inside the site (triangles, communities); even sites
    also link to other even sites (one merged component), odd sites stay
    islands; some links leave the crawl to one of ``n_external`` pages per
    site (dangling vertices that are not pages). A ``dangling`` share of
    pages has no outlinks.
    """
    rng = np.random.default_rng(seed)
    page = np.arange(n_pages)
    site_size = n_pages // n_sites
    site = np.minimum(page // site_size, n_sites - 1)
    site_lo = site * site_size
    site_hi = np.where(site == n_sites - 1, n_pages, site_lo + site_size)

    k = rng.integers(2, 12, n_pages)
    k[rng.random(n_pages) < dangling] = 0
    src = np.repeat(page, k)
    n_links = len(src)
    kind = rng.random(n_links)
    lo, hi = site_lo[src], site_hi[src]
    # local: a near neighbour in the same site
    near = np.clip(src + rng.integers(-12, 13, n_links), lo, hi - 1)
    # site-popular: power-law within the site (site hubs)
    popular = lo + ((hi - lo) * rng.random(n_links) ** 3).astype(np.int64)
    # cross-site: a popular page of another even site (even sites only)
    other = 2 * rng.integers(0, (n_sites + 1) // 2, n_links)
    cross = other * site_size + (site_size * rng.random(n_links) ** 3).astype(np.int64)
    dst = np.where(kind < 0.55, near, popular)
    dst = np.where((kind > 0.9) & (site[src] % 2 == 0), cross, dst)
    external = kind > 0.97
    # every page's first link goes to its site's home page; even sites'
    # home pages link to the portal (page 0). Each component's smallest url
    # is its home page or the portal, at most two links from any member, so
    # the CC round count does not depend on the seed.
    first = (np.cumsum(k) - k)[k > 0]
    home = site_lo[src[first]]
    dst[first] = np.where(src[first] != home, home,
                          np.where((site[home] % 2 == 0) & (home > 0), 0, home + 1))
    external[first] = False
    dst_url = np.where(
        external,
        np.char.add("https://x", (site[src] * n_external
                                  + rng.integers(0, n_external, n_links)).astype(str)),
        url_array(dst, n_sites, site_size),
    ).astype(object)
    urls = url_array(page, n_sites, site_size).astype(object)

    words = _VOCAB[rng.integers(0, len(_VOCAB), int(n_pages * 12))]
    n_words = rng.integers(5, 20, n_pages)
    offsets = np.concatenate([[0], np.cumsum(n_words)])
    texts = [f"page {i} " + " ".join(words[offsets[i]:offsets[i + 1]])
             for i in range(n_pages)]
    anchor_word = _VOCAB[rng.integers(0, len(_VOCAB), n_links)]
    link_end = np.cumsum(k)
    anchors = [f'<a href="{u}">{w}</a>' for u, w in zip(dst_url, anchor_word)]
    html = [
        f"<html><head><title>p{i}</title></head><body>{texts[i]}"
        f"{''.join(anchors[link_end[i] - k[i]:link_end[i]])}</body></html>".encode()
        for i in range(n_pages)
    ]
    return {
        "url": urls, "html": np.array(html, dtype=object),
        "text": np.array(texts, dtype=object),
        "lang": np.where(rng.random(n_pages) < 0.05, "de", "en").astype(object),
        "warc_ts": (1_767_225_600 + page * 37).astype("datetime64[s]"),
        "src_url": urls[src], "dst_url": dst_url,
    }


def url_array(i: np.ndarray, n_sites: int, site_size: int) -> np.ndarray:
    """Zero-padded page numbers, so a site's home page has its smallest url;
    external urls (``https://x...``) sort after every page."""
    s = np.minimum(i // site_size, n_sites - 1)
    return np.char.add(np.char.add(np.char.add("https://site", s.astype(str)),
                                   ".example/p"), np.char.zfill(i.astype(str), 7))


# -- materialized inputs ------------------------------------------------------


def materialize(cache_root: str, workload: str, seed: int, params: dict,
                keep: int = 6) -> str:
    """Write (or reuse) the workload's inputs under ``cache_root``.

    Returns the input directory holding ``input.parquet`` and ``oracle.npz``.
    A finished directory carries a ``DONE`` marker; the cache keeps the
    ``keep`` most recently used entries.
    """
    tag = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    path = os.path.join(cache_root, f"{workload}-s{seed}-{tag}")
    if os.path.exists(os.path.join(path, "DONE")):
        os.utime(path)
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    if workload == "crawl_structure":
        p = crawl_pages(seed, **params)
        table = pa.table({
            "url": pa.array(p["url"], pa.string()),
            "warc_ts": pa.array(p["warc_ts"].astype("datetime64[us]"),
                                pa.timestamp("us", tz="UTC")),
            "html": pa.array(p["html"], pa.binary()),
            "text": pa.array(p["text"], pa.string()),
            "lang": pa.array(p["lang"], pa.string()),
        })
        np.savez(os.path.join(path, "oracle.npz"), url=p["url"].astype(str),
                 text=p["text"].astype(str), src_url=p["src_url"].astype(str),
                 dst_url=p["dst_url"].astype(str))
    else:
        src, dst = web_graph(seed, **params)
        table = pa.table({"src": src, "dst": dst})
        np.savez(os.path.join(path, "oracle.npz"), src=src, dst=dst)
    pq.write_table(table, os.path.join(path, "input.parquet"), row_group_size=1 << 16)
    open(os.path.join(path, "DONE"), "w").close()
    _prune(cache_root, keep)
    return path


def _prune(cache_root: str, keep: int) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(cache_root, e)), e) for e in os.listdir(cache_root))
    for _, e in entries[:-keep]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)
