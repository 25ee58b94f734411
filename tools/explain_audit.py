#!/usr/bin/env python
"""Dump `.explain(formatted)` plans for the headline queries to PLANS.md.

The scale story lives in the physical plans — pushed filters, pruned read
schemas, broadcast joins, single-shuffle extraction. This writes the
audited plans to a reviewable artifact (regenerate after plan-affecting
changes); the load-bearing properties are additionally pinned as
assertions in tests/test_plan_shapes.py.

    python tools/explain_audit.py              # every audited query
    python tools/explain_audit.py NAME [...]   # re-explain only NAME(s),
                                               # keep the other entries
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

AUDITED = [
    ("x_extract_text", "fused extraction: scan -> repartition by url -> one mapInArrow; no sort above the Arrow stage"),
    ("x_extract_geometry", "extraction computed once (lineage cut), then exploded"),
    ("q5_local_supplier_volume", "fact joins shuffled by AQE, dimension joins broadcast"),
    ("range_theta_join", "equi+range predicate stays a broadcast join, never cartesian"),
    ("window_topk_per_group", "global top-k via TakeOrderedAndProject + broadcast join, no partition-less window"),
    ("dedup_minhash_lsh", "map-side partial_min signature aggregation; banded bucket self-join"),
    ("dedup_ngram_jaccard", "df-capped shingle universe before the self-join; pair table localCheckpointed once, then large-star/small-star cluster rounds shuffle ONLY the pair edges"),
    ("filter_project", "predicate pushdown + column pruning at the parquet scan"),
    ("events_sessionize", "single user_id-partitioned window chain + hash aggregate"),
    ("dedup_embedding_cosine", "sign-bit band buckets + in-bucket pair expansion; NO join operator (was a label-block quadratic self-join)"),
    ("x_page_knn", "LSH signatures over the corpus's natural partitioning; the only SinglePartition exchange is the final ordered output"),
    ("x_extract_html", "web-HTML leg: map-only wrap -> ONE exchange by url -> fused extraction mapInArrow (boilerplate strip inside the Arrow stage); tiny-result SinglePartition sort only"),
    ("web_quality_pipeline", "published-filter chain: Gopher rules + repetition fold fully map-side (zero pre-join shuffles from those legs), C4 + paragraph-strip each one shuffle, classifier AND char-trigram LM scorer map-only (folded array-literal lookups); six co-keyed doc_id joins"),
]


def main(names: list[str]) -> None:
    import __spark_entry__ as E
    from kraken_spark.session import get_spark

    path = os.path.join(REPO, "PLANS.md")
    kept = {}
    if names:
        with open(path) as f:
            for sec in f.read().split("\n## ")[1:]:
                kept[sec.split("\n", 1)[0]] = "\n## " + sec
    spark = get_spark(app="explain-audit", cores=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    out = [
        "# PLANS — audited physical plans (auto-generated by tools/explain_audit.py)\n",
        f"\nScale factor: `{SF}`. Regenerate with `python tools/explain_audit.py`.\n",
    ]
    n = 0
    for name, why in AUDITED:
        if name in kept and name not in names:
            out.append(kept[name])
            continue
        df = qs[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        out.append(f"\n## {name}\n\n_{why}_\n\n```\n{plan}\n```\n")
        n += 1
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote PLANS.md ({n} of {len(AUDITED)} plans explained)")


if __name__ == "__main__":
    main(sys.argv[1:])
