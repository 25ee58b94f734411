#!/usr/bin/env python
"""Extra benchmarks for OPTIMIZATION_r06.md (guide §1.4 noop-sink isolation).

bench.py is FROZEN for measurement; this file reproduces individual bench
legs so single optimizations can be measured without a full bench run.

    python bench_extra.py trained_rec     # 24-doc fused + lp legs
    python bench_extra.py skew4           # 4-largest-pages fused + lp legs
    python bench_extra.py headline [name] # one headline query, best of 3
    python bench_extra.py sustained [n]   # fused extraction over n docs
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _spark():
    from kraken_spark.session import get_spark

    spark = get_spark(app="bench-extra", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _best(fn, repeats=3, warm=1):
    for _ in range(warm):
        fn()
    best = None
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def trained_rec() -> None:
    import pyspark.sql.functions as F

    from kraken_spark.corpus import corpus_for
    from kraken_spark.kernels.rec_train import ASSET
    from kraken_spark.pipeline import plan_extraction
    from kraken_spark.pipeline_lines import plan_extraction_line_parallel
    from kraken_spark.session import lineage_cut

    spark = _spark()
    slice24 = lineage_cut(corpus_for(spark, SF_DIR).limit(24))
    out = {}
    spark.sparkContext.setJobDescription("trained_rec fused 24")
    out["trained_rec_docs_per_sec"] = round(24 / _best(lambda: _force(
        plan_extraction(slice24, num_partitions=CPUS, segmenter="blla",
                        kraken_model_path=ASSET)), repeats=2), 3)
    spark.sparkContext.setJobDescription("trained_rec lp 24")
    out["trained_rec_lp_docs_per_sec"] = round(24 / _best(lambda: _force(
        plan_extraction_line_parallel(
            slice24, num_partitions=CPUS, segmenter="blla",
            kraken_model_path=ASSET)), repeats=2), 3)
    print(json.dumps(out))


def skew4() -> None:
    import pyspark.sql.functions as F

    from kraken_spark.corpus import corpus_for
    from kraken_spark.kernels.rec_train import ASSET
    from kraken_spark.pipeline import plan_extraction
    from kraken_spark.pipeline_lines import plan_extraction_line_parallel
    from kraken_spark.session import lineage_cut

    spark = _spark()
    skew = lineage_cut(corpus_for(spark, SF_DIR)
                       .withColumn("sz", F.octet_length("html"))
                       .orderBy(F.desc("sz")).limit(4).drop("sz"))
    out = {}
    spark.sparkContext.setJobDescription("skew4 fused")
    out["skew4_fused_docs_per_sec"] = round(4 / _best(lambda: _force(
        plan_extraction(skew, num_partitions=CPUS, segmenter="blla",
                        kraken_model_path=ASSET))), 3)
    spark.sparkContext.setJobDescription("skew4 lp")
    out["skew4_lp_docs_per_sec"] = round(4 / _best(lambda: _force(
        plan_extraction_line_parallel(
            skew, num_partitions=CPUS, segmenter="blla",
            kraken_model_path=ASSET))), 3)
    print(json.dumps(out))


def headline(names) -> None:
    import __spark_entry__ as entry

    spark = _spark()
    qs = entry.queries()
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        out[name] = round(_best(lambda: _force(qs[name](spark, SF_DIR))), 3)
    print(json.dumps(out))


def sustained(n: int) -> None:
    from kraken_spark.corpus import ensure_corpus
    from kraken_spark.pipeline import plan_extraction

    spark = _spark()
    big = ensure_corpus(spark, n, f"/tmp/kraken_spark_corpus_{n}")
    _force(plan_extraction(big.limit(n // 10), num_partitions=CPUS * 2))
    best = _best(lambda: _force(plan_extraction(big, num_partitions=CPUS * 2)),
                 repeats=2, warm=0)
    print(json.dumps({"sustained_docs": n, "sustained_sec": round(best, 3),
                      "sustained_docs_per_sec": round(n / best, 3)}))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "trained_rec"
    if mode == "trained_rec":
        trained_rec()
    elif mode == "skew4":
        skew4()
    elif mode == "headline":
        headline(sys.argv[2:] or ["x_extract_text"])
    elif mode == "sustained":
        sustained(int(sys.argv[2]) if len(sys.argv) > 2 else 20480)
    else:
        raise SystemExit(f"unknown mode {mode}")
