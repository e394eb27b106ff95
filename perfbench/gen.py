"""Seeded input generation for the end-to-end benchmark.

Everything the program reads is written here, from the seed alone: the same
seed gives byte-identical files, another seed gives different ones. The
program never sees the seed.

- Graphs use the reference's two-file text format (`load_database`): a
  node-id-per-line file (isolated ids included) and a tab-separated edge
  file with `#` comment lines. The graph is a power-law digraph shaped like
  Wiki-Vote: sparse id space, hub-heavy in- and out-degrees, no self-loops,
  no duplicate edges.
- The op list (`ops.tsv`) holds the seeded lookup ids, k-hop sources and
  ssp pairs the harness replays. Expected answers are computed by the
  harness itself, driver-side, from the same files.
"""

import hashlib
import os

import numpy as np

# Workload sizes. replay_fit matches Wiki-Vote (7,115 ids, 103,689 edges);
# replay_over_budget is past LocalExec's 8 MiB plan-size budget.
GRAPH_SIZES = {
    "replay_fit": (7_115, 103_689),
    "replay_over_budget": (71_150, 1_036_890),
}

# Ops per list; passes consume them in order and wrap around.
N_LOOKUP = 200
N_KHOP = 300
N_SSP = 24
SSP_DIST = 3
SSP_PER_SOURCE = 4
ABSENT_LOOKUP_SHARE = 0.1

OUT_EXP, IN_EXP = 0.6, 0.55


def _rng(seed, tag):
    digest = hashlib.sha256(f"{tag}:{seed}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def power_law_digraph(seed, n_nodes, n_edges):
    """(ids, src, dst): ids sorted; src/dst are indexes into ids."""
    rng = _rng(seed, f"graph:{n_nodes}:{n_edges}")
    ids = np.sort(rng.choice(int(n_nodes * 1.17), n_nodes, replace=False)) + 3
    rank = np.arange(1, n_nodes + 1, dtype=np.float64)
    p_out = rank ** -OUT_EXP
    p_in = rank ** -IN_EXP
    p_out = p_out[rng.permutation(n_nodes)] / p_out.sum()
    p_in = p_in[rng.permutation(n_nodes)] / p_in.sum()
    keys = np.empty(0, dtype=np.int64)
    while True:
        k = int((n_edges - len(keys)) * 1.3) + 1000
        s = rng.choice(n_nodes, k, p=p_out)
        d = rng.choice(n_nodes, k, p=p_in)
        new = (s.astype(np.int64) * n_nodes + d)[s != d]
        keys = np.concatenate([keys, new])
        _, first = np.unique(keys, return_index=True)
        if len(first) >= n_edges:
            keys = keys[np.sort(first)[:n_edges]]
            break
        keys = keys[np.sort(first)]
    return ids, keys // n_nodes, keys % n_nodes


def write_graph(out_dir, seed, n_nodes, n_edges):
    ids, s, d = power_law_digraph(seed, n_nodes, n_edges)
    with open(os.path.join(out_dir, "nodes.txt"), "w") as f:
        f.write("\n".join(map(str, ids.tolist())) + "\n")
    with open(os.path.join(out_dir, "edges.txt"), "w") as f:
        f.write("# Directed graph (each unordered pair of nodes is saved once)\n")
        f.write(f"# Seeded power-law stand-in, seed {seed}\n")
        f.write(f"# Nodes: {n_nodes} Edges: {n_edges}\n")
        f.write("# FromNodeId\tToNodeId\n")
        src, dst = ids[s].tolist(), ids[d].tolist()
        f.write("".join(f"{a}\t{b}\n" for a, b in zip(src, dst)))
    return ids, s, d


def bfs_levels(start, adj, source):
    """Directed BFS distance from `source` to every node (-1: unreached),
    over the CSR adjacency (`start`, `adj`)."""
    dist = np.full(len(start) - 1, -1)
    dist[source] = 0
    frontier = np.array([source])
    level = 0
    while len(frontier):
        level += 1
        counts = start[frontier + 1] - start[frontier]
        offsets = np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts, counts)
        nxt = adj[np.repeat(start[frontier], counts) + offsets]
        nxt = np.unique(nxt[dist[nxt] < 0])
        dist[nxt] = level
        frontier = nxt
    return dist


def write_ops(out_dir, seed, ids, s, d):
    """Seeded op list: lookups (some for absent ids), 2-hop sources with
    out-edges, and ssp pairs exactly SSP_DIST hops apart. A fixed distance
    gives every ssp the same number of frontier rounds, so its latency
    measures the engine, not the luck of the pair draw."""
    rng = _rng(seed, "ops")
    has_out = np.unique(s)
    order = np.argsort(s, kind="stable")
    start = np.searchsorted(s[order], np.arange(len(ids) + 1))
    pairs = []
    while len(pairs) < N_SSP:
        a = int(rng.choice(has_out))
        at = np.flatnonzero(bfs_levels(start, d[order], a) == SSP_DIST)
        if len(at):
            pairs += [(a, int(b)) for b in rng.choice(at, min(len(at), SSP_PER_SOURCE), replace=False)]
    absent = np.setdiff1d(np.arange(ids.max() + 2), ids)
    lines = []
    for _ in range(N_LOOKUP):
        if rng.random() < ABSENT_LOOKUP_SHARE:
            lines.append(f"lookup\t{int(rng.choice(absent))}")
        else:
            lines.append(f"lookup\t{int(ids[rng.integers(len(ids))])}")
    # k-hop sources from the middle half of the out-degree distribution:
    # a 2-hop's cost follows its frontier, so hub-adjacent draws would make
    # the median depend on the draw more than on the engine
    deg = np.bincount(s, minlength=len(ids))
    lo, hi = np.percentile(deg[has_out], [25, 75])
    band = has_out[(deg[has_out] >= lo) & (deg[has_out] <= hi)]
    for i in rng.choice(band, N_KHOP):
        lines.append(f"khop\t{int(ids[i])}")
    for a, b in pairs[:N_SSP]:
        lines.append(f"ssp\t{int(ids[a])}\t{int(ids[b])}")
    with open(os.path.join(out_dir, "ops.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")


def generate(workload, seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    n, m = GRAPH_SIZES[workload]
    ids, s, d = write_graph(out_dir, seed, n, m)
    write_ops(out_dir, seed, ids, s, d)
