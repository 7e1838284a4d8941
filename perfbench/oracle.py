"""Independent answers the benchmark checks every operation against.

Nothing here calls the package: spatial answers are NumPy brute force
over the points the benchmark generated, index and cluster checks are
plain Python over what the program wrote or returned.
"""

from __future__ import annotations

import numpy as np

INDEX_THRESHOLD = 10  # split threshold of the bucket index (Client.java:170)
INDEX_MAX_DEPTH = 64


class PointSet:
    """Every point the table should hold, appended as the run stages them."""

    def __init__(self) -> None:
        self.ids = np.empty(0, np.int64)
        self.x = np.empty(0, np.int64)
        self.y = np.empty(0, np.int64)

    def add(self, ids, x, y) -> None:
        self.ids = np.concatenate([self.ids, np.asarray(ids, np.int64)])
        self.x = np.concatenate([self.x, np.asarray(x, np.int64)])
        self.y = np.concatenate([self.y, np.asarray(y, np.int64)])

    def __len__(self) -> int:
        return len(self.ids)

    def _in_rect(self, rx, ry) -> np.ndarray:
        return (
            (self.x >= rx[0]) & (self.x <= rx[1]) & (self.y >= ry[0]) & (self.y <= ry[1])
        )

    def range_ids(self, rx, ry) -> list[int]:
        return sorted(self.ids[self._in_rect(rx, ry)].tolist())

    def range_count(self, rx, ry) -> int:
        return int(self._in_rect(rx, ry).sum())

    def point_ids(self, x: int, y: int) -> list[int]:
        return sorted(self.ids[(self.x == x) & (self.y == y)].tolist())

    def knn(self, qx: int, qy: int, k: int) -> list[tuple[int, int]]:
        """(id, dist_sq) of the k nearest, ordered by (dist_sq, id, x, y)."""
        d = (self.x - qx) ** 2 + (self.y - qy) ** 2
        order = np.lexsort((self.y, self.x, self.ids, d))[:k]
        return [(int(self.ids[i]), int(d[i])) for i in order]

    def occupied(self) -> np.ndarray:
        grid = np.zeros((4096, 4096), dtype=bool)
        grid[self.x, self.y] = True
        return grid


def index_problems(bucket_pl, bucket_size, n_rows: int) -> list[str]:
    """Invariants of the bucket index after a drain: the sizes sum to
    the table's row count, and every leaf holds at most the threshold
    unless it is at maximum depth."""
    pl = np.asarray(bucket_pl)
    size = np.asarray(bucket_size)
    out = []
    if int(size.sum()) != n_rows:
        out.append(f"index sizes sum to {int(size.sum())}, table has {n_rows} rows")
    over = (size > INDEX_THRESHOLD) & (pl != INDEX_MAX_DEPTH)
    if over.any():
        out.append(f"{int(over.sum())} leaves above the split threshold")
    return out


def union_find_labels(pairs, doc_ids) -> dict[int, int]:
    """Minimum doc_id reachable from each document through the pairs."""
    parent = {int(d): int(d) for d in doc_ids}

    def find(v: int) -> int:
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in parent}


def keep_best(labels: dict[int, int], n_chars: dict[int, int]) -> dict[int, tuple]:
    """Per cluster: (keep_id, keep_chars, n_members), keeping the longest
    member and the smallest id among equally long ones."""
    best: dict[int, tuple] = {}
    for d, c in labels.items():
        keep, chars, members = best.get(c, (None, -1, 0))
        if n_chars[d] > chars or (n_chars[d] == chars and d < keep):
            keep, chars = d, n_chars[d]
        best[c] = (keep, chars, members + 1)
    return best
