"""Regenerate PLANS.md: formatted physical plans of flagship queries
with the plan property each is supposed to exhibit.

Usage: python tools/gen_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NOTES = {
    "snapshot_count_by_ts": (
        "One exchange (entity window), broadcast ts probe (BNLJ over 4 rows), "
        "partial+final hash agg. The scan is the only wide input."
    ),
    "pip_diamond_counts": (
        "Cell-id prune and PIP are one codegen Filter, pushed below the as-of "
        "probe (each version is tested once, not once per snapshot): the cell "
        "id prunes outside cells and accepts inside ones, and only "
        "boundary-cell rows evaluate the per-edge ray-casting terms. No Python "
        "evaluator anywhere; agg is partial+final."
    ),
    "knn_k5": (
        "The DISPLAYED plan is the final union of per-ring-level results: "
        "ring escalation probes isEmpty per level on a checkpointed "
        "remainder, so each branch explains as a post-checkpoint scan. "
        "Inside each level (materialized before this union) candidate "
        "generation is a broadcast hash join on cell id (ring cover built "
        "as a literal) and rank + ring-guarantee stats share one exchange "
        "(two Window nodes, WindowGroupLimit pushes k); "
        "tests/test_knn_property.py plan-asserts the escalation path "
        "contains no BroadcastNestedLoopJoin."
    ),
    "agg_zerofill_ts_tagv": (
        "Zerofill = broadcast cross of the (tiny) key universes, left-joined "
        "against the broadcast grouped result - no shuffle beyond the grouped "
        "agg itself."
    ),
    "way_vector_tiles": (
        "Segment fan-out is explode (no join); candidate tiles via "
        "sequence-explode; the clip kernel is one ArrowEvalPython over fanned "
        "segments; per-tile agg partial+final."
    ),
    "word_jaccard_pairs": (
        "Prefix-filter set-similarity join: token df via one agg, prefix "
        "selection via window, candidates via equi-join on token (shuffle "
        "hash join) - no cross join anywhere."
    ),
    "salted_cell_counts": (
        "Two-stage skew-safe agg: partial counts on (key, salt), final "
        "combine on key; both stages partial+final hash aggs."
    ),
    "docs_roundtrip_snapshot": (
        "Span decode is pure Catalyst: explode -> running-sum window -> "
        "conditional agg; the whole decode is codegen, no Python anywhere."
    ),
    "way_member_mod_ts": (
        "Child-induced modification instants via the as-of union-merge: "
        "grouped parent timeline + child probes sort once per (way, slot) "
        "window - no interval join, no cross product; the qualification "
        "frame is checkpointed and fans into the mod-ts union and the "
        "window counts."
    ),
    "relation_contributors_windowed": (
        "Slot-level as-of qualification (same merge shape, per_slot keys), "
        "then attribution is pure equi-joins (slot->way, (way, ts)->uid) "
        "plus one row_number pick per instant and a broadcast anti-join "
        "against own instants - everything keyed, no NLJ."
    ),
}


def main() -> None:
    from oshdb_spark.queries import QUERIES
    from oshdb_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    lines = [
        "# PLANS — physical-plan review of flagship queries",
        "",
        "Generated by `python tools/gen_plans.py` (re-run after plan-affecting",
        "changes). Each plan is the `.explain('formatted')` output at sf0.01 with",
        "the property it is supposed to exhibit stated first; scan/exchange/join/",
        "Python-boundary nodes are the things to check.",
        "",
    ]
    for name, note in NOTES.items():
        plan = (
            QUERIES[name](spark, sf)
            ._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
        tree = plan.split("\n\n")[0]
        lines += [f"## {name}", "", note, "", "```", tree.strip(), "```", ""]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    # hand-written pseudo-plan sections (relation assembly, scale jobs,
    # ...) live after the marker and survive regeneration
    marker = "<!-- hand-written sections below — preserved by tools/gen_plans.py -->"
    tail = ""
    try:
        old = open(out).read()
        idx = old.find(marker)
        if idx >= 0:
            tail = "\n" + old[idx:]
    except OSError:
        pass
    with open(out, "w") as f:
        f.write("\n".join(lines))
        f.write(tail)
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
