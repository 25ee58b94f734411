"""Wav2vec2-style pretraining (kernels/rec_pretrain.py) — the ketos
pretrain analog. Reference semantics: lib/pretrain/model.py:148-180
(contrastive step), lib/pretrain/layers.py:64-90 (masking layer),
configs/pretrain.py:52-55 (defaults)."""

import numpy as np
import pytest

from kraken_spark.kernels import rec_pretrain as rp
from kraken_spark.kernels import rec_train as rt


def _samples(n=24, seed=884101, max_words=2):
    lines = rt.synth_line_samples(seed, n, max_words=max_words)
    return [(i, ts) for i, (ts, _l, _g) in enumerate(lines)]


def _loss_of(samples, W, step=0, **kw):
    loss, _g, n = rp.pretrain_loss_grads(samples, W, step=step, **kw)
    return loss, n


# --------------------------------------------------------------- masking
def test_mask_spans_shape_and_determinism():
    rng = np.random.Generator(np.random.PCG64(1))
    spans = rp.sample_mask_spans(rng, 64)
    # floor(0.5 * 64 / 4) = 8 non-overlapping spans of width 4
    assert len(spans) == 8
    assert all(spans[i + 1] - spans[i] >= 4 for i in range(len(spans) - 1))
    assert spans.max() + 4 <= 64
    rng2 = np.random.Generator(np.random.PCG64(1))
    assert np.array_equal(spans, rp.sample_mask_spans(rng2, 64))


def test_mask_spans_short_sequence_empty():
    rng = np.random.Generator(np.random.PCG64(2))
    assert len(rp.sample_mask_spans(rng, 3)) == 0  # < one span width
    assert len(rp.sample_mask_spans(rng, 7)) == 0  # floor(0.875) = 0


def test_negatives_never_positive():
    """The index-bump trick (util.py:81-97): no masked frame is its own
    negative."""
    rng = np.random.Generator(np.random.PCG64(3))
    mi, k = 12, 100
    neg = rng.integers(0, mi - 1, size=(mi, k))
    neg[neg >= np.arange(mi)[:, None]] += 1
    assert (neg != np.arange(mi)[:, None]).all()
    assert neg.min() >= 0 and neg.max() < mi


# --------------------------------------------------------------- gradients
def test_numeric_gradient_every_family():
    """Central-difference check on every parameter family through the full
    masked-contrastive path (features -> mask -> encoder -> projection ->
    cosine/CE)."""
    rng = np.random.Generator(np.random.PCG64(884201))
    W = rp.init_pretrain_weights(rng)
    W = {k: v.astype(np.float64) for k, v in W.items()}
    samples = _samples(2, max_words=1)
    kw = dict(num_negatives=8, step=0)

    loss0, grads, n = rp.pretrain_loss_grads(samples, W, **kw)
    assert n >= 4
    eps = 1e-5  # float64 path (x follows W dtype); 1e-3 crosses ReLU kinks
    for key in ["pre.mask_emb", "pre.q.weight", "pre.q.bias",
                "c0.co.weight", "c0.co.bias", "c1.co.weight", "c1.co.bias",
                "rnn.layer.weight_ih_l0", "rnn.layer.weight_hh_l0",
                "rnn.layer.bias_ih_l0",
                "rnn.layer.weight_ih_l0_reverse",
                "rnn.layer.bias_hh_l0_reverse"]:
        flat = W[key].reshape(-1)
        g = grads[key].reshape(-1)
        idxs = np.random.Generator(np.random.PCG64(hash(key) % 2**31)).choice(
            len(flat), size=min(4, len(flat)), replace=False)
        for j in idxs:
            old = flat[j]
            flat[j] = old + eps
            lp, _ = _loss_of(samples, W, **kw)
            flat[j] = old - eps
            lm, _ = _loss_of(samples, W, **kw)
            flat[j] = old
            num = (lp - lm) / (2 * eps)
            assert abs(num - g[j]) <= 2e-4 + 2e-3 * abs(num), (key, j, num, g[j])


def test_gradient_batching_invariance():
    """Per-sample-keyed RNG: the gradient SUM over a sample set is the same
    whatever the chunking — the partitioning-independence the distributed
    face needs."""
    rng = np.random.Generator(np.random.PCG64(884301))
    W = rp.init_pretrain_weights(rng)
    # float64: the MATH is exactly batching-invariant; float32 runs differ
    # only by GEMM reassociation across batch shapes
    W = {k: v.astype(np.float64) for k, v in W.items()}
    samples = _samples(10)
    l1, g1, n1 = rp.dataset_pretrain_gradient(samples, W, step=3, batch=10,
                                              num_negatives=10)
    l2, g2, n2 = rp.dataset_pretrain_gradient(samples, W, step=3, batch=3,
                                              num_negatives=10)
    assert n1 == n2
    assert abs(l1 - l2) < 1e-9 * max(1.0, abs(l1))
    for k in g1:
        np.testing.assert_allclose(g1[k], g2[k], rtol=1e-9, atol=1e-11)


def test_masked_encoder_matches_supervised_forward_when_unmasked():
    """With no masking the pretrainer's feature + encoder path, plus the
    linear head, is rec_train.forward bit for bit."""
    rng = np.random.Generator(np.random.PCG64(884401))
    W = rp.init_pretrain_weights(rng)
    samples = _samples(3)
    xs = [ts for _k, ts in samples]
    widths = np.asarray([ts.shape[1] for ts in xs], dtype=np.int64)
    wmax = int(widths.max())
    x = np.zeros((len(xs), 1, rt.HEIGHT, wmax), dtype=np.float32)
    for i, ts in enumerate(xs):
        x[i, 0, :, : ts.shape[1]] = ts
    feat, w2, _ = rt.features_fwd(x, widths, W)
    hcat, _ = rt.encoder_fwd(feat, w2, W)
    logits = hcat @ W["out.lin.weight"].T + W["out.lin.bias"]
    ref_logits, ref_t = rt.forward(x, widths, W)
    assert np.array_equal(w2, ref_t)
    assert np.array_equal(logits, ref_logits)


# --------------------------------------------------------------- learning
def test_pretrain_loss_decreases():
    """A short live run: contrastive loss/frame drops from the ln(1+K)
    random level (the InfoNCE plateau escape is slow — the committed
    checkpoint's 800-step run reaches ~1/3 of random; this just pins that
    the LOOP learns)."""
    samples = _samples(48)
    W0 = rp.init_pretrain_weights(np.random.Generator(np.random.PCG64(rp.PRETRAIN_SEED)))
    l0, n0 = _loss_of(samples[:16], W0, num_negatives=20)
    W = rp.pretrain(samples, steps=150, batch=16, lr=2e-3, num_negatives=20)
    l1, n1 = _loss_of(samples[:16], W, num_negatives=20)
    assert n0 == n1
    assert l1 < 0.9 * l0, (l0, l1)


@pytest.mark.skipif(not __import__("os").path.exists(rp.ASSET),
                    reason="pretrained checkpoint not built")
def test_pretrained_init_beats_random_init():
    """The transfer claim (model.py:15-29 / Vogler et al.): on a FIXED
    CTC budget, the committed pretrained backbone
    (assets/rec_pretrained.safetensors, tools/train_pretrain.py — 800
    contrastive steps on synthetic lines DISJOINT from this test's
    fine-tune set) reaches a lower CTC loss than random init — same data,
    same steps, same output head, same seeds everywhere else."""
    Wp = rp.load_pretrain_checkpoint(rp.ASSET)
    lines = rt.synth_line_samples(884801, 96, max_words=2)

    def ctc_budget(W_init):
        W = {k: v.copy() for k, v in W_init.items()}
        rng = np.random.Generator(np.random.PCG64(884601))
        opt = rt.Adam(W)
        rt._ctc_phase(W, opt, lines, rng, steps=150, batch=16, lr=1e-3,
                      decay=False)
        loss, _g, n = rt.dataset_gradient(lines, W, batch=16)
        return loss / max(1, n)

    seed_rng = np.random.Generator(np.random.PCG64(rp.PRETRAIN_SEED + 7))
    random_init = rt.init_weights(seed_rng)
    pre_init = rp.to_recognizer_weights(Wp)
    # identical out.lin head in both arms: only the backbone differs
    for k in ("out.lin.weight", "out.lin.bias"):
        np.testing.assert_array_equal(random_init[k], pre_init[k])
    l_rand = ctc_budget(random_init)
    l_pre = ctc_budget(pre_init)
    assert l_pre < l_rand, (l_pre, l_rand)


def test_pretraining_is_bit_reproducible():
    """Two tiny runs from the same seed produce byte-identical weights
    (the asset-regeneration contract of tools/train_pretrain.py)."""
    samples = _samples(12, seed=7322)
    w1 = rp.pretrain(samples, steps=4, batch=4, lr=1e-3, num_negatives=8)
    w2 = rp.pretrain(samples, steps=4, batch=4, lr=1e-3, num_negatives=8)
    for k in w1:
        assert w1[k].tobytes() == w2[k].tobytes(), k


# --------------------------------------------------------------- asset I/O
def test_pretrain_checkpoint_roundtrip(tmp_path):
    rng = np.random.Generator(np.random.PCG64(884801))
    W = rp.init_pretrain_weights(rng)
    p = str(tmp_path / "pre.safetensors")
    rp.save_pretrain_checkpoint(W, p)
    W2 = rp.load_pretrain_checkpoint(p)
    assert set(W2) == set(W)
    for k in W:
        np.testing.assert_array_equal(W[k], W2[k])
    from kraken_spark.kernels.modelio import load_kraken_model

    b = load_kraken_model(p)[0]
    assert b.metadata["model_type"] == "pretrain"
    assert rp.W_SPEC in b.vgsl  # the reference's masking block in the spec


# --------------------------------------------------------------- spark face
@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from kraken_spark.session import get_spark

    s = get_spark(app="tests-pretrain", cores=2, shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    return s


def test_spark_pretrain_gradient_single_partition_bit_equal(spark, tmp_path):
    """One-partition distributed contrastive gradient == local
    dataset_pretrain_gradient on the same keyed samples, bit-for-bit
    (same subprocess BLAS-pinning protocol as the CTC twin test)."""
    import os

    from conftest import run_pinned_blas

    from kraken_spark import training

    df = training.generate_line_rows(spark, 4242, 2, partitions=1)
    rows = df.collect()
    samples = [
        (training.line_key(r.url, r.line_idx),
         np.frombuffer(r.patch, dtype=np.float32).reshape(r.height, r.width))
        for r in rows
    ]
    assert len(samples) >= 20
    rng = np.random.Generator(np.random.PCG64(29))
    W = rp.init_pretrain_weights(rng)
    l_sp, g_sp, n_sp = training.spark_pretrain_gradient(
        df, W, step=2, batch=8, num_negatives=10)
    sdir = str(tmp_path)
    np.savez(os.path.join(sdir, "w.npz"), **W)
    np.savez(
        os.path.join(sdir, "samples.npz"),
        **{f"p{i}": s[1] for i, s in enumerate(samples)},
        keys=np.asarray([s[0] for s in samples], dtype=np.int64),
        count=np.int64(len(samples)),
    )
    code = (
        "import numpy as np\n"
        "from kraken_spark.kernels import rec_pretrain as rp\n"
        "z = np.load(%r)\n"
        "n = int(z['count'])\n"
        "keys = z['keys'].tolist()\n"
        "samples = [(keys[i], z[f'p{i}']) for i in range(n)]\n"
        "W = {k: v for k, v in np.load(%r).items()}\n"
        "loss, gsum, used = rp.dataset_pretrain_gradient("
        "samples, W, step=2, batch=8, num_negatives=10)\n"
        "np.savez(%r, loss=np.float64(loss), n=np.int64(used), **gsum)\n"
    ) % (
        os.path.join(sdir, "samples.npz"),
        os.path.join(sdir, "w.npz"),
        os.path.join(sdir, "grad.npz"),
    )
    run_pinned_blas(code)
    z = np.load(os.path.join(sdir, "grad.npz"))
    assert int(z["n"]) == n_sp
    assert float(z["loss"]) == l_sp
    for k in g_sp:
        assert z[k].tobytes() == g_sp[k].tobytes(), k


def test_spark_pretrain_gradient_partitioning_independent(spark):
    """2-partition vs 1-partition distributed gradients agree to float
    tolerance (per-sample-keyed RNG: same masks/negatives per line
    whatever the partitioning)."""
    from kraken_spark import training

    rng = np.random.Generator(np.random.PCG64(31))
    W = rp.init_pretrain_weights(rng)
    df1 = training.generate_line_rows(spark, 4242, 2, partitions=1)
    df2 = training.generate_line_rows(spark, 4242, 2, partitions=2)
    l1, g1, n1 = training.spark_pretrain_gradient(df1, W, step=0, batch=8,
                                                  num_negatives=10)
    l2, g2, n2 = training.spark_pretrain_gradient(df2, W, step=0, batch=8,
                                                  num_negatives=10)
    assert n1 == n2
    assert abs(l1 - l2) <= 1e-6 * max(1.0, abs(l1))
    for k in g1:
        np.testing.assert_allclose(g1[k], g2[k], rtol=1e-4, atol=1e-6)


def test_job_cli_pretrain_then_finetune(spark, tmp_path, capsys):
    """The full ketos pretrain -> train -i chain under the job CLI:
    --pretrain-recognizer writes a pretrain checkpoint from a line dataset
    (labels unused), then --train-recognizer --model <checkpoint>
    fine-tunes from the transferred backbone and writes a recognizer."""
    import json as _json

    from kraken_spark import job
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.kernels.modelio import load_kraken_model
    from kraken_spark.sources.arrow_dataset import line_dataset, write_ipc_shards

    docs = generate_corpus_df(spark, 3, seed=4242, partitions=2)
    ds_dir = str(tmp_path / "ds")
    write_ipc_shards(line_dataset(docs), ds_dir)
    pre_out = str(tmp_path / "pretrained.safetensors")
    rc = job.main([
        "--input", ds_dir, "--output", pre_out,
        "--pretrain-recognizer", "--train-steps", "4", "--train-lr", "0.002",
    ])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_masked_frames"] > 100
    # 4 steps sit on the InfoNCE plateau — learning is pinned by
    # test_pretrain_loss_decreases and the committed checkpoint; here the
    # contract is the mechanics: finite loss, loadable checkpoint, chain.
    assert np.isfinite(out["loss_after"]) and np.isfinite(out["loss_before"])
    assert rp.load_pretrain_checkpoint(pre_out)  # loadable, typed

    model_out = str(tmp_path / "model.safetensors")
    rc = job.main([
        "--input", ds_dir, "--output", model_out,
        "--train-recognizer", "--model", pre_out,
        "--train-steps", "3", "--train-lr", "0.001",
    ])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["loss_after"] < out["loss_before"]
    bundle = load_kraken_model(model_out)[0]
    assert bundle.vgsl == rt.SPEC  # a plain recognizer came out the far end


def test_transfer_keeps_backbone_bits():
    rng = np.random.Generator(np.random.PCG64(884701))
    Wp = rp.init_pretrain_weights(rng)
    W = rp.to_recognizer_weights(Wp)
    assert set(W) == set(rt.init_weights(np.random.Generator(np.random.PCG64(0))))
    for k in W:
        if not k.startswith("out.lin."):
            np.testing.assert_array_equal(W[k], Wp[k])
    assert "pre.mask_emb" not in W
