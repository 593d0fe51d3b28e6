"""Regenerate docs/PLANS.md: `.explain` evidence that the driver-contract
queries compile to scale-appropriate physical plans (broadcasts, pushdown,
partial aggregation, no accidental shuffles).

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITS = [
    ("join_orders_customers",
     "small dim side is broadcast: BroadcastHashJoin, no shuffle of the "
     "fact side on the join key",
     ["BroadcastHashJoin", "Exchange", "FileScan"]),
    ("filter_project_events",
     "predicate + projection pushed to the parquet scan (PushedFilters, "
     "pruned ReadSchema)",
     ["PushedFilters", "ReadSchema", "Filter"]),
    ("q1_pricing_summary",
     "partial aggregation before the exchange (map-side combine): "
     "HashAggregate -> Exchange -> HashAggregate",
     ["HashAggregate", "Exchange"]),
    ("topk_longest_docs",
     "top-k via TakeOrderedAndProject: no global sort shuffle",
     ["TakeOrdered"]),
    ("dedup_exact",
     "single hash exchange on the content column with partial min on the "
     "map side",
     ["HashAggregate", "Exchange"]),
    ("ann_bruteforce_topk",
     "query side broadcast (BroadcastNestedLoopJoin), window top-k per "
     "query id",
     ["Broadcast", "Window", "Exchange"]),
    ("dedup_ngram_lsh_verified",
     "block-pair exact verify: candidate pairs aggregate per (block_a, "
     "block_b) key, packed gram blocks join once per partner block, one "
     "MapInArrow kernel per block pair — gram bytes never shuffle per "
     "candidate pair",
     ["MapInArrow", "Exchange", "HashAggregate"]),
    ("meta_only_stats",
     "aggregate pushdown to metadata: the ONLY scan is manifest.parquet "
     "(no c_* blob columns in any ReadSchema), partial agg before the "
     "exchange",
     ["FileScan", "ReadSchema", "HashAggregate", "Exchange"]),
    ("dedup_incremental",
     "incremental dedup in O(batch): the band join (index ∪ batch band "
     "keys probing a broadcast of the batch's band keys) runs and lands "
     "before this plan, so here it is the FileScan of mvt_cands_inc_; the "
     "distinct endpoints of those candidates are broadcast into a "
     "BroadcastHashJoin LeftSemi that cuts the shared gram-record cache "
     "to the endpoint docs before the block-pair verify",
     ["BroadcastHashJoin", "LeftSemi", "mvt_cands_inc_"]),
    ("segments_pruned_decode",
     "zone-pruned multi-segment decode: ONE parquet scan over every "
     "segment's block files, the mn_/mx_ zone predicate in its "
     "PushedFilters (pruned blocks' blob bytes are never read), a "
     "ReadSchema holding only the needed blob/crc columns, one MapInArrow "
     "decode",
     ["PushedFilters", "ReadSchema", "MapInArrow"]),
]

HEADER = """# Physical-plan audit (sf0.01, local[8])

`.explain` evidence that the operators compile to the plans a 100 TB
deployment needs: broadcasts where a side is small, pushdown reaching the
scans, partial aggregation before every exchange, no accidental shuffles.
Regenerate with `python scripts/plan_audit.py` (this file's generator).

"""


WIDTH = 150  # chars of a plan line shown per window


def clip(line: str, grep: list[str]) -> str:
    """The line's first WIDTH chars, plus a WIDTH-char window at every grep
    term that cut hides (a scan's PushedFilters and ReadSchema sit at the
    end of a long line)."""
    parts = [line[:WIDTH]]
    for g in grep:
        at = line.find(g)
        if at + len(g) > WIDTH:
            parts.append("  ... " + line[at:at + WIDTH])
    return "\n".join(parts)


def main():
    import __spark_entry__ as E
    from mapbox_vector_tile_java_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plans", cores=8)
    qs = E.queries()
    sections = []
    for name, note, grep in AUDITS:
        p = qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        lines = [l for l in p.split("\n") if any(g in l for g in grep)]
        body = "\n".join(clip(l.strip(), grep) for l in lines[:12])
        sections.append(f"## {name}\n\n{note}\n\n```\n{body}\n```\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "docs", "PLANS.md"), "w") as f:
        f.write(HEADER + "\n".join(sections))
    print(f"wrote docs/PLANS.md ({len(sections)} sections)")
    spark.stop()


if __name__ == "__main__":
    main()
