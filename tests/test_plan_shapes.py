"""Physical-plan shape guards: the properties that make the operators hold
at 100 TB must be visible in the executed plans — filters reaching the
parquet scan, projections pruning the read schema, dimension joins
broadcast, no accidental cartesian products, map-side partial aggregation.
A plan regression here is a scale bug even when results stay correct.
"""

from __future__ import annotations

import pytest

pyspark = pytest.importorskip("pyspark")

from kraken_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="tests-plans", cores=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_project_pushdown_and_pruning(spark):
    from kraken_spark.operators.relational import filter_project

    plan = _plan(filter_project(spark, SF))
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan
    # column pruning: the scan must not read the unused columns
    assert "l_shipdate" not in plan.split("ReadSchema")[1][:400]


def test_tpch_dimension_joins_are_broadcast(spark):
    from kraken_spark.operators.relational import q5_local_supplier_volume

    plan = _plan(q5_local_supplier_volume(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_range_theta_join_is_broadcast_not_cartesian(spark):
    from kraken_spark.operators.relational import range_theta_join

    plan = _plan(range_theta_join(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_global_rank_has_no_partitionless_window(spark):
    """The global top-25 must come from TakeOrderedAndProject + broadcast,
    never a partition-less Window over all rows."""
    from kraken_spark.operators.relational import window_topk_per_group

    plan = _plan(window_topk_per_group(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_minhash_partial_aggregation_mapside(spark):
    """The 16-permutation signature groupBy must show a partial_min before
    the exchange (map-side combine) so the shuffle carries one row/doc."""
    from kraken_spark.functions.dedup import dedup_minhash_lsh

    plan = _plan(dedup_minhash_lsh(spark, SF))
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan


def test_lsh_ann_no_cartesian(spark):
    from kraken_spark.functions.similarity import ann_ivf_cosine, ann_lsh_cosine

    for q in (ann_lsh_cosine, ann_ivf_cosine):
        plan = _plan(q(spark, SF))
        assert "CartesianProduct" not in plan, q.__name__


def test_page_knn_signature_stage_parallel(spark):
    """The LSH signature stage of x_page_knn must run over the corpus's
    natural partitioning: the only single-partition exchange allowed in
    the whole plan is the final deterministic-output _ordered. Feeding the
    signature computation the repartition(1)'d x_doc_embeddings output
    serializes the 24 plane dots + band explode into ONE task (round-3
    verdict finding #1)."""
    from kraken_spark.operators.multimodal import x_page_knn

    plan = _plan(x_page_knn(spark, SF))
    assert plan.count("SinglePartition") == 1
    assert "CartesianProduct" not in plan


def test_dedup_embedding_banded_no_join(spark):
    """dedup_embedding_cosine must generate candidates via sign-bit band
    buckets with in-bucket pair expansion — NO join operator anywhere
    (the former label-block self-join was quadratic in the largest label
    block; round-3 verdict finding #2)."""
    from kraken_spark.functions.similarity import dedup_embedding_cosine

    plan = _plan(dedup_embedding_cosine(spark, SF))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # map-side partial aggregation on the bucket groupBy
    assert "partial_" in plan


def test_extraction_single_arrow_stage_no_extra_shuffle(spark):
    """The fused extraction is one mapInArrow after the explicit
    repartition by url — exactly one shuffle below the Arrow eval,
    and no global Sort above it (the orderBy-resampling trap)."""
    from kraken_spark.corpus import corpus_for
    from kraken_spark.pipeline import plan_extraction

    docs = corpus_for(spark, SF)
    plan = _plan(plan_extraction(docs, num_partitions=4))
    assert plan.count("ArrowEvalPython") + plan.count("MapInArrow") >= 1
    assert plan.count("Exchange") == 1
    assert "Sort" not in plan.split("MapInArrow")[0]


def test_extraction_exchanges_hash_their_key(spark):
    """Each extraction Exchange hashes its own key into the partition
    count the plan asks for: the page Exchange `url` into n, the line
    Exchange `(url, line_idx)` into m. No bucket-id column (a key with
    ~n distinct values re-hashes into ~1/e empty partitions), no
    doubled partition count."""
    import os
    import re

    from kraken_spark.corpus import corpus_for
    from kraken_spark.kernels.rec_train import ASSET
    from kraken_spark.pipeline import plan_extraction
    from kraken_spark.pipeline_lines import plan_extraction_line_parallel

    docs = corpus_for(spark, SF)
    ext = plan_extraction(docs, num_partitions=3)
    assert ext.rdd.getNumPartitions() == 3
    plan = _plan(ext)
    assert re.search(r"Exchange hashpartitioning\(url#\d+, 3\)", plan), plan
    assert "element_at" not in plan
    if not os.path.exists(ASSET):
        pytest.skip("trained recognizer asset missing")
    plan = _plan(plan_extraction_line_parallel(
        docs, num_partitions=3, kraken_model_path=ASSET, line_partitions=2))
    assert re.search(r"Exchange hashpartitioning\(url#\d+, 3\)", plan), plan
    assert re.search(
        r"Exchange hashpartitioning\(url#\d+, line_idx#\d+, 2\)", plan), plan
    assert "element_at" not in plan


def _executed_nodes(spark, run) -> list[tuple[str, str]]:
    """(name, desc) of every node in the final (post-AQE) plans of every
    SQL execution run() starts, read from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()

    def ids():
        ex = store.executionsList()
        return {ex.apply(i).executionId() for i in range(ex.size())}

    before = ids()
    run()
    # the store is fed by the listener bus; let it catch up with run()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    out = []
    for eid in ids() - before:
        nodes = store.planGraph(eid).allNodes()
        out += [(nodes.apply(i).name(), nodes.apply(i).desc())
                for i in range(nodes.size())]
    return out


def test_extract_geometry_extracts_once(spark):
    """x_extract_geometry explodes lines and regions and joins them back:
    uncut, each branch re-ran the page pipeline (four extract_map nodes,
    three over a ReusedExchange). The extraction is lineage-cut once."""
    from kraken_spark.operators.extraction import x_extract_geometry

    nodes = _executed_nodes(
        spark, lambda: x_extract_geometry(spark, SF).collect())
    assert sum(name == "MapInArrow" and "extract_map" in desc
               for name, desc in nodes) == 1


def test_ice_extraction_runs_as_one_job(spark, tmp_path):
    """run_extraction(table_format='ice') with metrics is one extraction
    job: the extraction task stages its own file and folds its metrics, so
    no Hadoop write (WriteFiles / InsertIntoHadoopFsRelationCommand) runs
    and nothing scans the output back."""
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.pipeline import run_extraction

    docs = generate_corpus_df(spark, 3).localCheckpoint(eager=True)
    out = str(tmp_path / "out")
    nodes = _executed_nodes(spark, lambda: run_extraction(
        docs, out_path=out, metrics_path=str(tmp_path / "metrics"),
        run_id="one", num_partitions=2, table_format="ice"))
    names = [name for name, _ in nodes]
    maps = [desc for name, desc in nodes if name == "MapInArrow"]
    assert len(maps) == 1 and "extract" in maps[0]
    assert not [n for n in names
                if "WriteFiles" in n or "InsertIntoHadoopFsRelation" in n]
    assert not [d for n, d in nodes if n.startswith("Scan") and out in d]


@pytest.mark.parametrize("query,broadcasts", [
    ("x_extract_geometry", 2), ("x_ocr_report", 1), ("x_extract_html", 1)])
def test_extraction_side_joins_broadcast_at_runtime(spark, query, broadcasts):
    """The ground-truth and region side joins carry no broadcast hint:
    AQE's runtime sizes pick the broadcast. Their final plans hold no
    SortMergeJoin at fixture scale."""
    import __spark_entry__ as E

    fn = E.queries()[query]
    names = [name for name, _ in _executed_nodes(
        spark, lambda: fn(spark, SF).collect())]
    assert "SortMergeJoin" not in names
    assert names.count("BroadcastHashJoin") == broadcasts


def test_extract_html_warc_shape(spark):
    """The web-HTML query runs THROUGH the WARC container: page-wrap+pack
    MapInArrow (one .warc.gz per partition) -> explode_warc MapInArrow ->
    fused extraction MapInArrow. Exactly three shuffles — the per-file
    url partitioning, the extraction exchange by url, and the
    tiny-result SinglePartition sort (_ordered); the ground-truth join is
    a BroadcastHashJoin (never a sort-merge shuffle), and its scan prunes
    to the two joined columns. No global Sort above the Arrow stages."""
    from kraken_spark.operators.advanced import x_extract_html

    plan = _plan(x_extract_html(spark, SF))
    assert plan.count("MapInArrow") == 3  # pack, explode_warc, extract_map
    assert (
        plan.count("Exchange hashpartitioning")
        + plan.count("Exchange SinglePartition")
        == 3
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "struct<url:string,text:string>" in plan  # pruned gt scan
    head = plan.split("MapInArrow")[0]
    assert "Sort" not in head or "SinglePartition" in head


def test_training_faces_no_single_partition_stage(spark):
    """The distributed training inputs must stay parallel: the segtrain GT
    map builder and the rotrain pair builder are map-only over their input
    partitioning (no repartition(1)/coalesce(1) anywhere below the Arrow
    stage), and the overlay renderer's only exchanges serve the url
    equi-join — never a cartesian."""
    import pyspark.sql.functions as F

    from kraken_spark import training
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.operators.serialization import (overlay_extractions,
                                                      serialize_extractions)
    from kraken_spark.pipeline import plan_extraction

    docs = generate_corpus_df(spark, 2).localCheckpoint(eager=True)
    ext = plan_extraction(docs, num_partitions=2, segmenter="pageseg")
    alto = serialize_extractions(ext, "alto").select("url", "document")
    pairs = (alto.join(docs.select("url", "html"), "url")
             .select("url", F.encode("document", "UTF-8").alias("xml"),
                     F.col("html").alias("image"))).localCheckpoint(eager=True)

    seg_plan = _plan(training.seg_pages_from_pairs(pairs.repartition(2)))
    ro_plan = _plan(training.ro_pairs_from_markup(pairs.repartition(2)))
    for plan, name in ((seg_plan, "seg"), (ro_plan, "ro")):
        assert "SinglePartition" not in plan, name
        assert "Coalesce 1" not in plan and "coalesce(1" not in plan, name

    ov_plan = _plan(overlay_extractions(docs, ext))
    assert "Cartesian" not in ov_plan and "BroadcastNestedLoop" not in ov_plan


def test_no_query_resorts_an_arrow_stage_globally(spark):
    """House invariant, mechanically enforced over EVERY registered
    query: a global .orderBy above a mapInArrow stage plans as a
    rangepartitioning Exchange whose boundary sampling re-executes the
    whole extraction — x_* queries must use operators/extraction._ordered
    (SinglePartition exchange + in-partition sort) instead. Non-Arrow
    (relational) queries may sort globally: their children are plain
    scans, and re-sampling a scan is cheap."""
    import __spark_entry__ as E

    offenders = []
    for name, fn in E.queries().items():
        try:
            plan = _plan(fn(spark, SF))
        except Exception as exc:  # pragma: no cover - plan build must work
            offenders.append(f"{name}: plan build failed: {exc}")
            continue
        if ("MapInArrow" in plan or "ArrowEvalPython" in plan) and \
                "rangepartitioning" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_line_parallel_plan_shape(spark):
    """The line-parallel loaded-model plan is exactly three hash
    exchanges — url below prepare, (url, line_idx) below recognize,
    url hash below the grouped assembly — with no RangePartitioning
    (sort sampling would re-execute an Arrow stage) and no global Sort
    anywhere."""
    import os

    from kraken_spark.corpus import corpus_for
    from kraken_spark.kernels.rec_train import ASSET
    from kraken_spark.pipeline_lines import plan_extraction_line_parallel

    if not os.path.exists(ASSET):
        pytest.skip("trained recognizer asset missing")
    docs = corpus_for(spark, SF)
    plan = _plan(plan_extraction_line_parallel(
        docs, num_partitions=4, kraken_model_path=ASSET,
        line_partitions=4))
    assert plan.count("Exchange") == 3
    assert "rangepartitioning" not in plan.lower()
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
