"""Hierarchy expansion: the reference's playlist folder tree
(`Parent_Persistent_ID` → `Playlist_Persistent_ID`, itdb.sql:92-93) is
traversed one level at playlistlinks.py:153-162; here it's an iterative
self-join loop to a depth cap — each iteration is one broadcast-able join,
no GraphFrames needed (SURVEY.md §1.5)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def expand_hierarchy(
    nodes: DataFrame,
    id_col: str,
    parent_col: str,
    max_depth: int = 10,
) -> DataFrame:
    """All (ancestor, descendant, depth) pairs up to ``max_depth``.

    Loop of joins rather than recursion: level N+1 = level N ⋈ edges.
    Each level is checkpoint-free and lazily unioned; the loop stops early
    when a level is empty (fixpoint). At scale, `nodes` is the small
    playlist dimension — every join broadcasts.

    Raises ``ValueError`` instead of returning a partial closure when
    level ``max_depth + 1`` is non-empty: the message says whether the
    hierarchy has a cycle (some node is its own ancestor) or is deeper
    than ``max_depth``. A tree exactly ``max_depth`` deep returns.
    """
    edges = nodes.select(
        F.col(parent_col).alias("ancestor"), F.col(id_col).alias("descendant")
    ).where(F.col(parent_col).isNotNull())

    def deeper(level: DataFrame) -> DataFrame:
        return (
            level.alias("l")
            .join(edges.alias("e"), F.col("l.descendant") == F.col("e.ancestor"))
            .select(
                F.col("l.ancestor").alias("ancestor"),
                F.col("e.descendant").alias("descendant"),
                (F.col("l.depth") + 1).alias("depth"),
            )
        )

    level = edges.withColumn("depth", F.lit(1))
    out = level
    for _ in range(1, max_depth):
        level = deeper(level)
        if level.isEmpty():
            return out
        out = out.unionByName(level)
    level = deeper(level)
    if level.isEmpty():
        return out
    cyclic = not (
        out.unionByName(level)
        .where(F.col("ancestor") == F.col("descendant"))
        .isEmpty()
    )
    cause = (
        "a cycle (a node is its own ancestor)"
        if cyclic
        else f"a hierarchy deeper than max_depth={max_depth}"
    )
    raise ValueError(
        f"expand_hierarchy: level {max_depth + 1} is non-empty — {cause}; "
        "the closure would be partial"
    )
