"""Seeded generator of Twitter-shaped edge lists (FIXTURES.md section 1).

The reference's inputs are space-separated ``src dst`` lines of Twitter
user ids. This generator reproduces the properties that matter to the
triangle closure, tuned so that 100k lines land near the row of
``100k.txt`` in FIXTURES.md (5,280 nodes, max line degree 527, 587,199
simple triangles, 25,403 repeated pairs, 2 self-loops):

- dense circles: ``IN_CIRCLE_SHARE`` of the lines join two members of
  one circle of ``CIRCLE`` nodes, drawn uniformly, so that the closure
  has the reference's many triangles per line; the repeats these draws
  make are the duplicate pairs, about a quarter of the lines;
- heavy-tailed degrees: the other lines join two nodes drawn with
  weight ``rank ** -ALPHA``, about 19 lines per node as in ``100k.txt``;
- rare self-loops, one per 50k lines;
- sparse, non-contiguous ids up to about 5.6e8;
- arbitrary orientation of every line.

Circles hold the ``CIRCLE_NODE_SHARE`` highest-ranked nodes, so the
heaviest nodes are also the most clustered. Triangles and nodes grow
in proportion to the lines.

The same seed always gives the same lines (numpy's PCG64 stream).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyarrow import csv

ID_SPACE = 560_000_000
LINES_PER_NODE = 19
ALPHA = 0.52
CIRCLE = 100
CIRCLE_NODE_SHARE = 0.3
IN_CIRCLE_SHARE = 0.73
LINES_PER_SELF_LOOP = 50_000


def edge_array(n_lines: int, seed: int) -> np.ndarray:
    """Return an ``(n_lines, 2)`` int64 array of ``src, dst`` ids."""
    rng = np.random.default_rng(seed)
    n_nodes = max(CIRCLE, n_lines // LINES_PER_NODE)
    n_circles = max(1, round(n_nodes * CIRCLE_NODE_SHARE / CIRCLE))
    ids = rng.choice(ID_SPACE, size=n_nodes, replace=False) + 1
    weights = np.arange(1, n_nodes + 1, dtype=np.float64) ** -ALPHA
    weights /= weights.sum()

    n_loops = max(1, n_lines // LINES_PER_SELF_LOOP)
    n_inside = int((n_lines - n_loops) * IN_CIRCLE_SHARE)
    n_global = n_lines - n_loops - n_inside

    # Node r belongs to circle r % n_circles if r < n_circles * CIRCLE.
    circle = rng.integers(0, n_circles, n_inside)
    a = rng.integers(0, CIRCLE, n_inside)
    b = (a + rng.integers(1, CIRCLE, n_inside)) % CIRCLE
    inside = np.stack([circle + a * n_circles, circle + b * n_circles], 1)

    # Global pairs by weight; collisions are redrawn so that self-loops
    # only come from the explicit count below.
    src = rng.choice(n_nodes, size=n_global, p=weights)
    dst = rng.choice(n_nodes, size=n_global, p=weights)
    while (same := src == dst).any():
        dst[same] = rng.choice(n_nodes, size=int(same.sum()), p=weights)

    loops = rng.choice(n_nodes, size=n_loops, p=weights)
    pairs = np.concatenate([inside, np.stack([src, dst], 1),
                            np.stack([loops, loops], 1)])
    pairs = pairs[rng.permutation(n_lines)]
    flip = rng.random(n_lines) < 0.5
    pairs[flip] = pairs[flip][:, ::-1]
    return ids[pairs]


def write_text(edges: np.ndarray, path: str) -> None:
    """Write edges as the reference's space-separated text lines."""
    csv.write_csv(pa.table({"src": edges[:, 0], "dst": edges[:, 1]}), path,
                  csv.WriteOptions(include_header=False, delimiter=" "))


def shape(edges: np.ndarray) -> dict:
    """Measured properties of one generated edge list."""
    lo = np.minimum(edges[:, 0], edges[:, 1])
    hi = np.maximum(edges[:, 0], edges[:, 1])
    loops = lo == hi
    pairs = np.unique(lo[~loops] * (ID_SPACE + 1) + hi[~loops])
    n_pair_lines = int((~loops).sum())
    nodes, line_degree = np.unique(edges, return_counts=True)
    return {
        "lines": int(len(edges)),
        "nodes": int(len(nodes)),
        "self_loops": int(loops.sum()),
        "distinct_pairs": int(len(pairs)),
        "duplicate_share": round(1 - len(pairs) / max(1, n_pair_lines), 4),
        "max_degree": int(line_degree.max()),
        "max_id": int(edges.max()),
    }

