"""Agglomerative hierarchy over tagged cluster centers.

Re-expresses the reference's HierarchyBuilder
(mllib/src/main/scala/text/HierarchyBuilder.scala:6-232) — the second
half of PhraseClustering's output surface: after flat clusters exist
(topic.seeded_kmeans / queries.q42), a balanced binary-ish hierarchy is
grown over the centers so the annotation UI can drill down.

Semantics ported (cited lines are the specification, not the source):

- ``CenterTagged`` node: (center_id, center vector, tag set)
  (PhraseClustering.scala:26-40).
- Distance = 1 - cosine similarity (SemanticVector.scala:135).
- One level = ``createParents`` (HierarchyBuilder.scala:111-208):
  1. centers sharing a non-empty tag set with >1 members pair among
     themselves first (``:129-135``), remaining centers pair together
     (``:137-138``);
  2. greedy nearest-pair matching (``addParentsFor``, ``:11-39``):
     scan centers in order, each unparented center grabs its nearest
     unparented successor; strict ``<`` means the earliest of equal
     candidates wins; an odd tail becomes a single-child parent;
  3. parent center = element-wise SUM of children (not mean), parent
     tags = intersection of children tags (``:28``);
  4. the parent count is then adjusted to the closest power of two
     below the center count (``parentsTarget``, ``:143``) by merging
     (``mergeNodes``, ``:40-80``) or splitting (``splitNodes``,
     ``:81-109``) with the reference's four-priority ordering
     (``:147-204``).
- Levels repeat until one root remains (``buildHierarchy``,
  ``:219-229``); each node reports its root→node path
  (``getHierarchy``, ``:209-218``).

Spark-first shape: the centers are the OUTPUT of a distributed
clustering agg, so there are k of them (dictionary-sized, k ≪ data).
The hierarchy build is therefore a pure driver-side O(k² · levels)
computation — the same placement the reference uses (its builder runs
on collected centers too) and the placement SURVEY §7 sanctions for
k×dim state. Everything data-sized stays in DataFrames; the Spark
wrapper collects only (k, dim) floats and returns a DataFrame.

The greedy-pair core is oracle-checked bit-for-bit by
queries.q69_center_hierarchy (recursive-CTE replay in DuckDB on an
untagged power-of-two level, where the merge/split adjustment provably
never triggers); the tagged + merge/split paths are pytest-covered
(tests/test_hierarchy.py).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from demy_spark.io import local_frame


@dataclass(frozen=True, eq=False)
class CenterTagged:
    center_id: int
    center: np.ndarray
    tags: tuple[str, ...] = ()


def cosine_distance(a: np.ndarray, b: np.ndarray) -> float:
    """1 - cosine(a, b); zero vectors are at distance 1 from everything
    (SemanticVector.scala:72-95 returns 0 similarity on empty support)."""
    na = float(np.linalg.norm(a))
    nb = float(np.linalg.norm(b))
    if na == 0.0 or nb == 0.0:
        return 1.0
    return 1.0 - float(np.dot(a, b)) / (na * nb)


@dataclass
class HierarchyBuilder:
    leafs: list[CenterTagged]
    nodes: dict[int, CenterTagged] = field(init=False)
    parent_of: dict[int, int] = field(init=False)
    child_of: dict[int, list[int]] = field(init=False)

    def __post_init__(self):
        self.nodes = {c.center_id: c for c in self.leafs}
        self.parent_of = {}
        self.child_of = {}

    # -- one greedy nearest-pair pass (HierarchyBuilder.scala:11-39) ----
    def _add_parents_for(self, focus: list[int], next_id: int) -> int:
        for li, left in enumerate(focus):
            if left in self.parent_of:
                continue
            best_right: int | None = None
            best_dist = math.inf
            for right in focus[li + 1 :]:
                if right in self.parent_of:
                    continue
                d = cosine_distance(
                    self.nodes[left].center, self.nodes[right].center
                )
                if d < best_dist:  # strict: earliest of equals wins
                    best_dist = d
                    best_right = right
            children = [left] if best_right is None else [left, best_right]
            parent = CenterTagged(
                center_id=next_id,
                center=sum(
                    (self.nodes[c].center for c in children[1:]),
                    start=self.nodes[children[0]].center.copy(),
                ),
                tags=tuple(
                    sorted(
                        set(self.nodes[children[0]].tags).intersection(
                            *(set(self.nodes[c].tags) for c in children[1:])
                        )
                        if len(children) > 1
                        else self.nodes[children[0]].tags
                    )
                ),
            )
            for c in children:
                self.parent_of[c] = next_id
            self.child_of[next_id] = children
            self.nodes[next_id] = parent
            next_id += 1
        return next_id

    # -- merge surplus parents (HierarchyBuilder.scala:40-80) -----------
    def _merge_nodes(
        self, focus: list[tuple[int, list[int]]], max_merges: int
    ) -> None:
        already = set()
        merged = 0
        for to_merge, candidates in focus:
            if merged >= max_merges:
                break
            if to_merge in already:
                continue
            already.add(to_merge)
            best: int | None = None
            best_dist = math.inf
            for cand in candidates:
                if cand in already or cand == to_merge:
                    continue
                d = cosine_distance(
                    self.nodes[to_merge].center, self.nodes[cand].center
                )
                if d < best_dist:
                    best_dist = d
                    best = cand
            if best is None:
                continue
            already.add(best)
            children = self.child_of[best] + self.child_of[to_merge]
            self.nodes[best] = CenterTagged(
                center_id=best,
                center=sum(
                    (self.nodes[c].center for c in children[1:]),
                    start=self.nodes[children[0]].center.copy(),
                ),
                tags=tuple(
                    sorted(
                        set(self.nodes[best].tags)
                        & set(self.nodes[to_merge].tags)
                    )
                ),
            )
            for c in self.child_of[to_merge]:
                self.parent_of[c] = best
            del self.child_of[to_merge]
            self.child_of[best] = children
            del self.nodes[to_merge]
            merged += 1

    # -- split multi-child parents (HierarchyBuilder.scala:81-109) ------
    def _split_nodes(
        self, focus: list[int], max_splits: int, next_id: int
    ) -> int:
        split = 0
        idx = 0
        while split < max_splits and idx < len(focus):
            node = focus[idx]
            if len(self.child_of[node]) > 1:
                single = self.child_of[node][0]
                rest = self.child_of[node][1:]
                self.nodes[next_id] = CenterTagged(
                    center_id=next_id,
                    center=self.nodes[single].center.copy(),
                    tags=self.nodes[single].tags,
                )
                self.nodes[node] = CenterTagged(
                    center_id=node,
                    center=sum(
                        (self.nodes[c].center for c in rest[1:]),
                        start=self.nodes[rest[0]].center.copy(),
                    ),
                    tags=tuple(
                        sorted(
                            set(self.nodes[rest[0]].tags).intersection(
                                *(set(self.nodes[c].tags) for c in rest[1:])
                            )
                            if len(rest) > 1
                            else self.nodes[rest[0]].tags
                        )
                    ),
                )
                self.parent_of[single] = next_id
                self.child_of[next_id] = [single]
                self.child_of[node] = list(rest)
                split += 1
                next_id += 1
            if len(self.child_of[node]) == 1:
                idx += 1
        return next_id

    # -- one hierarchy level (HierarchyBuilder.scala:111-208) -----------
    def create_parents(self, focus: list[int]) -> list[int]:
        centers = [self.nodes[i] for i in focus]
        by_tag: dict[tuple[str, ...], list[CenterTagged]] = {}
        for c in centers:
            by_tag.setdefault(c.tags, []).append(c)
        next_id = max(c.center_id for c in centers) + 1

        # tagged groups pair among themselves first (:129-135)
        for tags, group in by_tag.items():
            if tags and len(group) > 1:
                next_id = self._add_parents_for(
                    [c.center_id for c in group], next_id
                )
        # then everything left (:137-138)
        remaining = [
            c for c in centers if not c.tags or len(by_tag[c.tags]) == 1
        ]
        next_id = self._add_parents_for(
            [c.center_id for c in remaining], next_id
        )

        # adjust to the closest power of two below the center count (:143)
        target = int(round(2 ** (math.ceil(math.log2(len(centers))) - 1)))

        def current_parents() -> list[int]:
            seen, out = set(), []
            for c in centers:
                p = self.parent_of.get(c.center_id)
                if p is not None and p not in seen:
                    seen.add(p)
                    out.append(p)
            return out

        to_add = target - len(current_parents())
        while to_add != 0:
            if to_add < 0:
                self._reduce_parents(centers, by_tag, -to_add)
            else:
                next_id = self._grow_parents(centers, to_add, next_id)
            to_add = target - len(current_parents())
        # parents in first-appearance order (:207 `.distinct` keeps order)
        return list(dict.fromkeys(self.parent_of[i] for i in focus))

    def _reduce_parents(
        self,
        centers: list[CenterTagged],
        by_tag: dict[tuple[str, ...], list[CenterTagged]],
        n: int,
    ) -> None:
        """Merge priority (:147-185): single-child parents of tagged
        clusters in groups >2, then single-child of untagged, then
        2-child untagged, then 2-child tagged."""
        cand_by_tag = {
            tags: list(
                dict.fromkeys(
                    self.parent_of[c.center_id]
                    for c in group
                    if c.center_id in self.parent_of
                )
            )
            for tags, group in by_tag.items()
        }

        def parents_where(tagged: bool, child_count: int) -> list[int]:
            out = []
            for c in centers:
                if bool(c.tags) != tagged or len(by_tag[c.tags]) <= 2:
                    continue
                p = self.parent_of.get(c.center_id)
                if p is not None and len(self.child_of[p]) == child_count:
                    out.append(p)
            return list(dict.fromkeys(out))

        for tagged, child_count in (
            (True, 1),
            (False, 1),
            (False, 2),
            (True, 2),
        ):
            pool = parents_where(tagged, child_count)
            if pool:
                targets = [
                    (p, cand_by_tag[self.nodes[p].tags])
                    if self.nodes[p].tags in cand_by_tag
                    else (p, [q for qs in cand_by_tag.values() for q in qs])
                    for p in pool
                ]
                self._merge_nodes(targets, n)
                return
        raise RuntimeError("cannot reduce parent count further")

    def _grow_parents(
        self, centers: list[CenterTagged], n: int, next_id: int
    ) -> int:
        """Split priority (:190-203): multi-child untagged parents
        (largest first), then multi-child tagged parents."""
        for want_tags in (False, True):
            pool = [
                p
                for p in dict.fromkeys(
                    self.parent_of[c.center_id]
                    for c in centers
                    if c.center_id in self.parent_of
                )
                if len(self.child_of[p]) > 1
                and bool(self.nodes[p].tags) == want_tags
            ]
            pool.sort(key=lambda p: -len(self.child_of[p]))
            if pool:
                return self._split_nodes(pool, n, next_id)
        raise RuntimeError("cannot split parent count further")

    def get_hierarchy(self, node_id: int) -> list[int]:
        path = [node_id]
        while path[-1] in self.parent_of:
            path.append(self.parent_of[path[-1]])
        return list(reversed(path))

    def build(self) -> list[tuple[CenterTagged, list[int]]]:
        level = [c.center_id for c in self.leafs]
        while len(level) > 1:
            level = self.create_parents(level)
        return [
            (node, self.get_hierarchy(nid))
            for nid, node in sorted(self.nodes.items())
        ]


_OUT_SCHEMA = T.StructType(
    [
        T.StructField("center_id", T.LongType()),
        T.StructField("parent_id", T.LongType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("n_children", T.IntegerType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("center_norm", T.DoubleType()),
    ]
)


def build_center_hierarchy(
    centers: DataFrame,
    id_col: str = "center_id",
    vec_col: str = "center",
    tags_col: str | None = None,
) -> DataFrame:
    """Collect the (dictionary-sized) center table, run the
    agglomeration, and return one row per hierarchy node:
    (center_id, parent_id [-1 at root], depth [root=0], n_children,
    tags, center_norm)."""
    spark = centers.sparkSession
    cols = [id_col, vec_col] + ([tags_col] if tags_col else [])
    rows = centers.select(*cols).collect()
    leafs = [
        CenterTagged(
            center_id=int(r[id_col]),
            center=np.asarray(r[vec_col], dtype=np.float64),
            tags=tuple(sorted(r[tags_col])) if tags_col else (),
        )
        for r in sorted(rows, key=lambda r: r[id_col])
    ]
    builder = HierarchyBuilder(leafs)
    built = builder.build()
    out = [
        (
            node.center_id,
            path[-2] if len(path) > 1 else -1,
            len(path) - 1,
            len(builder.child_of.get(node.center_id, [])),
            list(node.tags),
            float(np.linalg.norm(node.center)),
        )
        for node, path in built
    ]
    return local_frame(spark, out, _OUT_SCHEMA)
