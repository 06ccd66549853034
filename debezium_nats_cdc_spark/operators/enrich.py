"""Enrichment joins (SURVEY.md §2.C1/C2/D5).

The reference enriches events with per-event JDBC lookups back into
MariaDB (findPositionById ×2, dept/manager lookups —
docs/design.md:659-672).  The engine replaces every lookup with a
broadcast stream-static join: dimensions are loaded once, broadcast to
executors, and joined JVM-side — per-event network round-trips become
zero (the "Cache frequently accessed reference data" advice of
docs/design.md:901, taken to its conclusion).

org_distance (C2) is the one iterative operator: a driver-side loop of
self-joins over the (tiny) department hierarchy, capped in depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def enrich_promotion(events: DataFrame, positions: DataFrame) -> DataFrame:
    """Attach previous/new position titles to EmployeePromoted events —
    the two findPositionById calls (docs/design.md:668-672) as two
    broadcast joins on the payload's position ids."""
    prev_pos = F.get_json_object("payload", "$.previousPositionId")
    new_pos = F.get_json_object("payload", "$.newPositionId")
    p_prev = F.broadcast(
        positions.select(F.col("id").alias("_prev_id"), F.col("title").alias("previousTitle"))
    )
    p_new = F.broadcast(
        positions.select(F.col("id").alias("_new_id"), F.col("title").alias("newTitle"))
    )
    return (
        events.withColumn("_prev_pos", prev_pos)
        .withColumn("_new_pos", new_pos)
        .join(p_prev, F.col("_prev_pos") == F.col("_prev_id"), "left")
        .join(p_new, F.col("_new_pos") == F.col("_new_id"), "left")
        .drop("_prev_id", "_new_id", "_prev_pos", "_new_pos")
    )


def org_distance(departments: DataFrame, max_depth: int = 10) -> DataFrame:
    """(dept, ancestor, distance) closure over parent_department_id
    (docs/system-design.md:226 'Calculate org distance').

    Driver-side iterative broadcast self-join — the hierarchy is a small
    dimension (SURVEY §2.C2), so each iteration is a broadcast join with
    early exit when a level adds no rows; depth cap guards cycles.
    """
    edges = departments.select(
        F.col("id").alias("dept_id"),
        F.col("parent_department_id").alias("ancestor_id"),
    ).filter(F.col("ancestor_id").isNotNull())
    closure = edges.withColumn("distance", F.lit(1))
    frontier = closure
    for _ in range(max_depth - 1):
        nxt = (
            frontier.alias("f")
            .join(
                F.broadcast(edges.alias("e")),
                F.col("f.ancestor_id") == F.col("e.dept_id"),
            )
            .select(
                F.col("f.dept_id").alias("dept_id"),
                F.col("e.ancestor_id").alias("ancestor_id"),
                (F.col("f.distance") + 1).alias("distance"),
            )
        )
        if nxt.isEmpty():
            break
        closure = closure.unionByName(nxt)
        frontier = nxt
    return closure
