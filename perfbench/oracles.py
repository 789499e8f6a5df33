"""Reference answers computed outside Spark (numpy, DuckDB, networkx).

Each oracle re-derives a workload's expected output from the generated
input files alone, so a wrong engine result cannot also be the expected
one.
"""

from __future__ import annotations

import duckdb
import networkx as nx
import numpy as np

DAMPING = 0.85


def read_edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (src, dst) pairs of a parquet edge table, sorted."""
    got = duckdb.sql(
        f"SELECT DISTINCT src, dst FROM read_parquet('{path}/*.parquet') "
        "ORDER BY src, dst").fetchnumpy()
    return got["src"].astype(np.int64), got["dst"].astype(np.int64)


def pagerank(src: np.ndarray, dst: np.ndarray, n: int,
             iterations: int) -> np.ndarray:
    """Ranks over ids 0..n-1 after ``iterations`` power iterations with
    the engine's reference semantics: zero start, and the dangling mass
    of each step taken from the vector it starts from."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    inv_deg = np.zeros(n)
    inv_deg[~dangling] = 1.0 / out_deg[~dangling]
    pr = np.zeros(n)
    for _ in range(iterations):
        contrib = np.bincount(dst, weights=(pr * inv_deg)[src], minlength=n)
        mass = pr[dangling].sum()
        pr = (contrib + mass / n) * DAMPING + (1.0 - DAMPING) / n
    return pr


def repo_edges(files_path: str) -> list[tuple[str, str]]:
    """(src_repo, dst_repo) derived in DuckDB with the extraction
    layer's python import patterns and path-stem module ownership."""
    sql = rf"""
    WITH files AS (SELECT * FROM read_parquet('{files_path}/*.parquet')),
    refs AS (
        SELECT repo, unnest(
            regexp_extract_all(content, '(?m)^\s*import\s+([A-Za-z_][\w\.]*)', 1)
            || regexp_extract_all(
                content, '(?m)^\s*from\s+([A-Za-z_][\w\.]*)\s+import\b', 1)
        ) AS module
        FROM files WHERE lang = 'python'),
    owners AS (
        SELECT regexp_extract(split_part(path, '/', -1),
                              '^(.*?)(?:\.[^.]*)?$', 1) AS module,
               min(repo) AS owner
        FROM files GROUP BY 1)
    SELECT DISTINCT refs.repo, owners.owner
    FROM refs JOIN owners USING (module)
    WHERE refs.repo <> owners.owner
    ORDER BY 1, 2
    """
    return [tuple(r) for r in duckdb.sql(sql).fetchall()]


def dense_ids(edges: list[tuple[str, str]]) -> dict[str, int]:
    """Sorted-name dictionary encoding: the i-th smallest name gets id i."""
    names = sorted({v for e in edges for v in e})
    return {name: i for i, name in enumerate(names)}


def undirected(src: np.ndarray, dst: np.ndarray) -> nx.Graph:
    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    return g


def component_labels(g: nx.Graph) -> dict[int, int]:
    """Vertex -> smallest vertex id of its connected component."""
    out = {}
    for comp in nx.connected_components(g):
        root = min(comp)
        out.update((v, root) for v in comp)
    return out


def label_propagation(g: nx.Graph, max_iter: int) -> dict[int, int]:
    """Synchronous label propagation: each vertex takes the most common
    label among its neighbours, ties to the smallest label; stop when no
    label changes or a (changed, labelling) state repeats."""
    ids = np.array(sorted(g.nodes), dtype=np.int64)
    pos = {v: i for i, v in enumerate(ids.tolist())}
    pairs = np.array([(pos[a], pos[b]) for a, b in g.edges], dtype=np.int64)
    src = np.concatenate([pairs[:, 0], pairs[:, 1]])
    dst = np.concatenate([pairs[:, 1], pairs[:, 0]])
    labels = ids.copy()
    seen = set()
    for _ in range(max_iter):
        keys, counts = np.unique(
            np.stack([dst, labels[src]], axis=1), axis=0, return_counts=True)
        # per dst: highest count first, then smallest label
        order = np.lexsort((keys[:, 1], -counts, keys[:, 0]))
        keys = keys[order]
        first = np.ones(len(keys), dtype=bool)
        first[1:] = keys[1:, 0] != keys[:-1, 0]
        new = labels.copy()
        new[keys[first, 0]] = keys[first, 1]
        changed = int((new != labels).sum())
        labels = new
        sig = (changed, labels.tobytes())
        if changed == 0 or sig in seen:
            break
        seen.add(sig)
    return dict(zip(ids.tolist(), labels.tolist()))


def triangle_count(g: nx.Graph) -> int:
    return sum(nx.triangles(g).values()) // 3
