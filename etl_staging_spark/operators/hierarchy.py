"""Hierarchy dimension support for the `child_of` / `parent_of` domain
operators.

The reference resolves `child_of` through the ORM's parent_path
mechanism (osv.expression: `('plan_id', 'child_of', id)` compiles to a
`parent_path LIKE '<path of id>%'` prefix match on hierarchies that
materialize parent_path, else an iterative id expansion); see the usage
at `account_reports/models/account_analytic_report.py:60`.

Spark shape: hierarchy dimensions (analytic plans, account groups,
region trees) are SMALL — thousands of rows, never fact-sized — so the
tree is collected once, bounded, and `child_of` expands to a plain
`IN (<subtree ids>)` predicate that Catalyst pushes into the parquet
scan of the FACT table. The fact side is never collected and never
joined for the filter. For prefix-join plans (when the caller prefers a
join over an IN list — e.g. the subtree is huge), :meth:`paths_frame`
exposes the materialized parent_path per node, the exact analog of the
ORM's `parent_path` column.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from ..tables import local_frame


class Hierarchy:
    """An id → parent_id forest with subtree expansion.

    Build from bounded pairs (a collected dimension, NEVER a fact
    table); all traversals are driver-side over O(dim) state.
    """

    def __init__(self, parents: dict):
        self._parents = dict(parents)
        self._children: dict = defaultdict(list)
        for node, parent in self._parents.items():
            if parent is not None:
                self._children[parent].append(node)

    @classmethod
    def from_pairs(cls, pairs: Iterable[tuple]) -> "Hierarchy":
        """``pairs`` is (id, parent_id); parent_id None marks a root."""
        return cls(dict(pairs))

    def descendants(self, root) -> list:
        """The subtree rooted at ``root``, INCLUDING root itself —
        osv.expression's child_of semantics. Iterative BFS with a seen
        set, so a malformed cyclic dimension terminates instead of
        recursing forever."""
        seen: list = []
        seen_set = set()
        queue = [root]
        while queue:
            node = queue.pop()
            if node in seen_set:
                continue
            seen_set.add(node)
            seen.append(node)
            queue.extend(self._children.get(node, ()))
        return sorted(seen, key=repr)

    def ancestors(self, node) -> list:
        """``node`` and its ancestor chain — parent_of semantics."""
        out: list = []
        seen = set()
        cur = node
        while cur is not None and cur not in seen:
            out.append(cur)
            seen.add(cur)
            cur = self._parents.get(cur)
        return sorted(out, key=repr)

    def parent_path(self, node) -> str:
        """The ORM-style materialized path ``'<root>/<...>/<node>/'``."""
        return "/".join(str(n) for n in reversed(self._path_list(node))) + "/"

    def _path_list(self, node) -> list:
        out = []
        seen = set()
        cur = node
        while cur is not None and cur not in seen:
            out.append(cur)
            seen.add(cur)
            cur = self._parents.get(cur)
        return out

    def paths_frame(self, spark: SparkSession) -> DataFrame:
        """(id, parent_path) for every node — the scale path: broadcast
        this bounded frame and prefix-match ``parent_path`` when an IN
        list is unsuitable (subtree larger than an IN predicate should
        carry)."""
        rows = [(node, self.parent_path(node)) for node in self._parents]
        return local_frame(spark, rows, "id long, parent_path string")
