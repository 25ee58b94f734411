"""In-repo trained reading-order MLP (kernels/ro_train.py): the committed
asset must load and drive neural_reading_order, training must be
reproducible, and the learned comparator must order held-out pages EXACTLY
— including the 2-column LTR/RTL pages where the constructed y-then-x
comparator provably cannot (golden order is column-major)."""

from __future__ import annotations

import numpy as np
import pytest

from kraken_spark.kernels import render, ro, ro_train


def _order_of(d, mlp):
    cls = 1 if d["base_dir"] == "R" else 0
    boxes = [tuple(l["bbox"]) for l in d["lines"]]
    h, w = d["img"].shape
    feats = ro.extract_element_features(boxes, [cls] * len(boxes), w=w, h=h)
    return ro.greedy_order_decode(mlp.pair_probs(feats))


def test_asset_present_and_live():
    mlp = ro_train.load_mlp()
    assert mlp is not None, f"missing committed asset {ro_train.ASSET}"
    assert mlp.w1.shape == (ro.HIDDEN, 16)
    ro._LEARNED_CACHE[0] = None
    assert ro.learned_mlp() is not None


def test_learned_orders_heldout_pages_exactly():
    """Evaluation seeds are disjoint from the 883xxx training seeds."""
    mlp = ro_train.load_mlp()
    n2col = 0
    for seed in (1234, 7, 42, 99):
        for i in range(6):
            d = render.render_document(seed, i)
            n2col += d["ncols"] == 2
            assert _order_of(d, mlp) == list(range(len(d["lines"]))), (seed, i)
    assert n2col >= 3  # the sweep genuinely exercises 2-column pages


def test_learned_beats_constructed_on_two_column():
    """The constructed top-to-bottom comparator interleaves columns; the
    trained MLP realizes the column-major golden order on the same page."""
    mlp = ro_train.load_mlp()
    con = ro.build_order_mlp()
    seen = 0
    for seed in (1234, 7, 42):
        for i in range(8):
            d = render.render_document(seed, i)
            if d["ncols"] != 2 or len({l["col"] for l in d["lines"]}) < 2:
                continue
            seen += 1
            gold = list(range(len(d["lines"])))
            assert _order_of(d, mlp) == gold, (seed, i)
            assert _order_of(d, con) != gold, (seed, i)
    assert seen >= 2


def test_rtl_flips_column_order():
    """On an RTL 2-column page the right column precedes — the class
    feature must flip the learned column sign. Construct a synthetic
    4-box page and check both directions."""
    mlp = ro_train.load_mlp()
    h, w = 1600, 1200
    left_top = (64, 64, 560, 80)
    left_bot = (64, 100, 560, 116)
    right_top = (660, 64, 1150, 80)
    right_bot = (660, 100, 1150, 116)
    boxes = [left_top, left_bot, right_top, right_bot]

    def order(cls):
        feats = ro.extract_element_features(boxes, [cls] * 4, w=w, h=h)
        return ro.greedy_order_decode(mlp.pair_probs(feats))

    assert order(0) == [0, 1, 2, 3]  # LTR: left column first
    assert order(1) == [2, 3, 0, 1]  # RTL: right column first


def test_training_is_reproducible():
    data = ro_train.training_set(n_docs=2)
    m1 = ro_train.train_ro(steps=10, data=data, seed=5)
    m2 = ro_train.train_ro(steps=10, data=data, seed=5)
    assert np.array_equal(m1.w1, m2.w1) and np.array_equal(m1.w2, m2.w2)


def test_constructed_fallback(monkeypatch):
    monkeypatch.setenv("KRAKEN_SPARK_RO_NET", "constructed")
    ro._LEARNED_CACHE[0] = None
    assert ro.learned_mlp() is None
    # neural_reading_order still works through the constructed comparator
    assert ro.neural_reading_order([(0, 0, 10, 10), (0, 20, 10, 30)]) == [0, 1]
    monkeypatch.delenv("KRAKEN_SPARK_RO_NET")
    ro._LEARNED_CACHE[0] = None


def test_markup_page_pairs_gt():
    """rotrain GT from markup: golden order = parse rank, pair labels
    from order, RTL class flag from dominant strong direction."""
    from kraken_spark.kernels.ro_train import markup_page_pairs
    from tests.test_arrow_dataset import _mini_alto

    xml = _mini_alto("p.png", [("alpha", 10, 18, 200, 42),
                               ("beta", 10, 48, 200, 72),
                               ("gamma", 10, 78, 200, 102)])
    X, y = markup_page_pairs(xml)
    assert X.shape == (6, 16) and y.shape == (6,)
    # u-major pair rows: (0,1) (0,2) (1,0) (1,2) (2,0) (2,1)
    assert y.tolist() == [1.0, 1.0, 0.0, 1.0, 0.0, 0.0]
    assert (X[:, 0] == 1.0).all() and (X[:, 1] == 0.0).all()  # LTR class

    rtl = _mini_alto("p.png", [("العربية نص", 10, 18, 200, 42),
                               ("يسار يمين", 10, 48, 200, 72)])
    Xr, yr = markup_page_pairs(rtl)
    assert (Xr[:, 1] == 1.0).all() and (Xr[:, 0] == 0.0).all()  # RTL class

    # a one-line page is unusable
    one = _mini_alto("p.png", [("solo", 10, 18, 200, 42)])
    assert markup_page_pairs(one) is None


def test_spark_rotrain_analog(tmp_path):
    """--train-ro: data-parallel reading-order training on markup GT —
    partition-independent gradients, loss decreases, the written weights
    load through every RO loader (plain, env-var, roadd donor)."""
    import json as _json

    import pyspark.sql.functions as F

    from kraken_spark import training
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.job import main
    from kraken_spark.kernels.ro_train import load_mlp
    from kraken_spark.operators.serialization import serialize_extractions
    from kraken_spark.pipeline import plan_extraction
    from kraken_spark.session import get_spark
    from kraken_spark.sources.arrow_dataset import xml_pairs_df

    spark = get_spark(app="tests-rotrain", cores=2, shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    docs = generate_corpus_df(spark, 6).localCheckpoint(eager=True)
    ext = plan_extraction(docs, num_partitions=2, segmenter="blla")
    alto = serialize_extractions(ext, "alto").select("url", "document")
    pairs_path = str(tmp_path / "pairs.parquet")
    (alto.join(docs.select("url", "html"), "url")
     .select("url", F.encode("document", "UTF-8").alias("xml"),
             F.col("html").alias("image"))
     .write.parquet(pairs_path))

    f1p = training.ro_pairs_from_markup(
        xml_pairs_df(spark, pairs_path).repartition(1)).cache()
    f2p = training.ro_pairs_from_markup(
        xml_pairs_df(spark, pairs_path).repartition(2)).cache()
    rng = np.random.Generator(np.random.PCG64(5))
    W = {"w1": rng.standard_normal((16, 16)), "b1": np.zeros(16),
         "w2": rng.standard_normal(16), "b2": np.zeros(1)}
    l1, g1, n1 = training.spark_ro_gradient(f1p, W)
    l2, g2, n2 = training.spark_ro_gradient(f2p, W)
    assert n1 == n2 > 0
    assert abs(l1 - l2) < 1e-9 * max(1.0, abs(l1))
    for k in g1:
        denom = max(1e-12, np.abs(g1[k]).max())
        assert np.abs(g1[k] - g2[k]).max() / denom < 1e-9, k

    out = str(tmp_path / "ro.safetensors")
    rc = main(["--input", pairs_path, "--output", out, "--train-ro",
               "--train-steps", "120"])
    assert rc == 0
    mlp = load_mlp(out)
    assert mlp is not None and mlp.w1.shape == (16, 16)

    lib = training.train_ro_from_pairs(
        spark, xml_pairs_df(spark, pairs_path),
        str(tmp_path / "ro2.safetensors"), steps=120)
    assert lib["n_pages"] == 6 and lib["n_pairs"] > 0
    assert lib["loss_after"] < lib["loss_before"], lib
    assert 0 <= lib["order_exact_pages"] <= 6


def test_spark_ro_gradient_single_partition_bit_equal(tmp_path):
    """One-partition distributed reading-order gradient == the local
    per-page sum, bit-for-bit. The local twin walks the task's own order:
    pages in row order, pair_gradient_sum at the BROADCAST weights
    (float32-rounded, cast back to float64), page sums added in row order
    and onto zeros at the driver. It runs with the executors'
    single-thread BLAS."""
    import os

    from conftest import run_pinned_blas

    from kraken_spark import training
    from kraken_spark.session import get_spark

    spark = get_spark(app="tests-rotrain-pin", cores=2, shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    blocks = [ro_train.page_pairs(render.render_document(seed, i))
              for i, seed in enumerate((882700, 882701, 882702, 882703))]
    rows = [(f"pin-{i}", X.shape[0], X.shape[1], bytearray(X.tobytes()),
             bytearray(y.tobytes())) for i, (X, y) in enumerate(blocks)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
                               training.RO_PAIRS_SCHEMA)
    assert df.rdd.getNumPartitions() == 1
    d = blocks[0][0].shape[1]
    rng = np.random.Generator(np.random.PCG64(13))
    W = {"w1": rng.standard_normal((ro.HIDDEN, d)), "b1": np.zeros(ro.HIDDEN),
         "w2": rng.standard_normal(ro.HIDDEN), "b2": np.zeros(1)}
    l_sp, g_sp, n_sp = training.spark_ro_gradient(df, W)

    sdir = str(tmp_path)
    np.savez(os.path.join(sdir, "w.npz"), **W)
    np.savez(os.path.join(sdir, "pairs.npz"),
             **{f"{c}{i}": m for i, blk in enumerate(blocks)
                for c, m in zip("xy", blk)})
    run_pinned_blas((
        "import numpy as np\n"
        "from kraken_spark.kernels.ro_train import pair_gradient_sum\n"
        "z = np.load(%r)\n"
        "W = {k: v.astype(np.float32).astype(np.float64)\n"
        "     for k, v in np.load(%r).items()}\n"
        "loss_sum, acc, n = 0.0, None, 0\n"
        "for i in range(%d):\n"
        "    X, y = z['x' + str(i)], z['y' + str(i)]\n"
        "    loss, g = pair_gradient_sum(X, y, W)\n"
        "    loss_sum += loss\n"
        "    acc = g if acc is None else {k: acc[k] + g[k] for k in acc}\n"
        "    n += X.shape[0]\n"
        "gsum = {k: np.zeros(W[k].shape) + acc[k] for k in W}\n"
        "np.savez(%r, loss=np.float64(loss_sum), n=np.int64(n), **gsum)\n"
    ) % (os.path.join(sdir, "pairs.npz"), os.path.join(sdir, "w.npz"),
         len(blocks), os.path.join(sdir, "grad.npz")))
    z = np.load(os.path.join(sdir, "grad.npz"))
    assert int(z["n"]) == n_sp == sum(X.shape[0] for X, _y in blocks)
    assert float(z["loss"]) == l_sp
    assert sorted(g_sp) == sorted(W)
    for k in g_sp:
        assert z[k].tobytes() == g_sp[k].tobytes(), k


def test_markup_region_level_pairs():
    """rotrain --level regions: region bboxes in document order are the
    golden sequence; one-region pages are unusable; bad level raises."""
    import pytest as _pytest

    from kraken_spark.kernels.ro_train import markup_page_pairs
    from kraken_spark.kernels.serialize import serialize
    from kraken_spark.kernels import png, render
    from kraken_spark.stages import extract_document

    d = render.render_document(1234, 7)
    row = extract_document(png.encode_png(d["img"]), "u7", d["lang"],
                           gt_text=d["text"])
    xml = serialize(row, "pagexml").encode()
    n_regions = len(row.get("regions") or [])
    got = markup_page_pairs(xml, level="regions")
    if n_regions >= 2:
        X, y = got
        assert X.shape == (n_regions * (n_regions - 1), 16)
    else:
        assert got is None
    with _pytest.raises(ValueError, match="level"):
        markup_page_pairs(xml, level="words")
