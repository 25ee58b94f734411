"""Wav2vec2-style self-supervised recognizer pretraining — the ketos
pretrain analog, pure numpy.

The reference pretrains its recognition nets with an image-inpainting
surrogate task (/root/reference/kraken/lib/pretrain/model.py:15-29, after
Vogler et al., "Lacuna Reconstruction: Self-supervised Pre-training for
Low-Resource Historical Document Transcription", arXiv:2112.08692): random
time-spans of the post-convolutional feature sequence are replaced with a
learnable mask embedding (lib/pretrain/layers.py:21-90 Wav2Vec2Mask), the
recurrent context encoder runs over the masked sequence, and a contrastive
InfoNCE loss asks the encoder output at each masked frame to be
cosine-closest to a linear projection of the ORIGINAL (unmasked) feature at
that frame, against negatives drawn from the other masked frames
(lib/pretrain/model.py:148-180: cosine_similarity over [positive;
negatives], temperature-scaled cross-entropy with target 0). Hyperparameter
defaults follow configs/pretrain.py:52-55 (mask_width=4, mask_prob=0.5,
num_negatives=100, logit_temp=0.1).

This module reimplements that task from scratch over the rec_train
topology (kernels/rec_train.py SPEC: conv/pool feature stack -> S-collapse
-> BiLSTM context encoder), with hand-written backward through the masking
layer, the projection head and the cosine/CE loss. The feature and
encoder stacks, forward and backward, are rec_train's own
(features_fwd/_bwd, encoder_fwd/_bwd) — the ones the supervised trainer
composes — so the two trainers share them by construction.

Divergences from the reference, documented: span sampling is a seeded
PCG64 greedy non-overlap sampler PER SAMPLE (the reference's
compute_mask_indices, util.py:98-166, uses global numpy randomness and
trims every sample in a batch to the batch-min mask count; per-sample
determinism keyed on (seed, step, line-key) is what makes the distributed
gradient partitioning-independent — see training.py), and negatives are
drawn per sample with the reference's own index-bump trick
(util.py:81-97: randint over M-1 then +1 at >= the positive index, which
guarantees the positive itself is never drawn as a negative).

Weight transfer (ketos train -i pretrained.mlmodel): conv + BiLSTM weights
carry over to the CTC recognizer, the output head is re-initialized —
`to_recognizer_weights`.
"""

from __future__ import annotations

import numpy as np

from . import rec_train as rt

# configs/pretrain.py:52-55 defaults
MASK_WIDTH = 4
MASK_PROB = 0.5
NUM_NEGATIVES = 100
LOGIT_TEMP = 0.1

PRETRAIN_SEED = 884001  # disjoint from rec_train's 883xxx train/eval seeds

import os as _os

ASSET = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    "assets",
    "rec_pretrained.safetensors",
)

FEAT = (rt.HEIGHT // 4) * rt.C2  # S-collapse feature dim (128)
FINAL = 2 * rt.HID  # context-encoder output dim (128)

#: the reference's VGSL block for the serialized masking layer
#: (lib/pretrain/layers.py:98-102 get_spec) — recorded in checkpoint
#: metadata so a saved pretrain state documents its own hyperparameters.
W_SPEC = f"W{{w2v}}{FINAL},{MASK_WIDTH},{MASK_PROB},{NUM_NEGATIVES}"


# --------------------------------------------------------------- weights
def init_pretrain_weights(rng: np.random.Generator,
                          W: dict[str, np.ndarray] | None = None
                          ) -> dict[str, np.ndarray]:
    """Recognizer backbone weights + the pretrain-only parameters:
    ``pre.mask_emb`` (the learnable mask embedding,
    layers.py:60 ``nn.Embedding(1, C)``) and ``pre.q.{weight,bias}`` (the
    target projection, layers.py:61 ``nn.Linear(C, final_dim)``)."""
    W = dict(W) if W is not None else rt.init_weights(rng)
    k = 1.0 / np.sqrt(FEAT)
    W.setdefault("pre.mask_emb",
                 rng.normal(0.0, 1.0, FEAT).astype(np.float32))
    W.setdefault("pre.q.weight",
                 rng.uniform(-k, k, (FINAL, FEAT)).astype(np.float32))
    W.setdefault("pre.q.bias", rng.uniform(-k, k, FINAL).astype(np.float32))
    return W


def to_recognizer_weights(Wp: dict[str, np.ndarray],
                          rng: np.random.Generator | None = None
                          ) -> dict[str, np.ndarray]:
    """Transfer pretrained backbone weights into a CTC recognizer init —
    the ketos ``train -i pretrained`` path (ketos/recognition.py loads the
    pretrained net and swaps the output head for the task codec's)."""
    rng = rng or np.random.Generator(np.random.PCG64(PRETRAIN_SEED + 7))
    W = rt.init_weights(rng)  # fresh out.lin (+ shapes for everything)
    for key in W:
        if not key.startswith("out.lin."):
            W[key] = np.asarray(Wp[key], dtype=np.float32).copy()
    return W


# --------------------------------------------------------------- masking
def sample_mask_spans(rng: np.random.Generator, t_valid: int,
                      mask_prob: float = MASK_PROB,
                      mask_width: int = MASK_WIDTH) -> np.ndarray:
    """Sorted start indices of non-overlapping mask spans inside
    [0, t_valid). Span count = floor(mask_prob * t_valid / mask_width)
    (compute_mask_indices' expectation, util.py:113 — deterministic floor
    instead of its +rand() rounding). Greedy rejection over a shuffled
    start permutation; needs t_valid >= 2*mask_width for >=2 spans
    (the loss needs a second masked span to draw negatives from)."""
    n_spans = int(mask_prob * t_valid / mask_width)
    if n_spans < 1 or t_valid < mask_width:
        return np.empty(0, dtype=np.int64)
    starts = rng.permutation(t_valid - mask_width + 1)
    chosen: list[int] = []
    for s in starts:
        if len(chosen) == n_spans:
            break
        if all(abs(s - c) >= mask_width for c in chosen):
            chosen.append(int(s))
    return np.asarray(sorted(chosen), dtype=np.int64)


def mask_from_spans(spans: np.ndarray, t: int,
                    mask_width: int = MASK_WIDTH) -> np.ndarray:
    m = np.zeros(t, dtype=bool)
    for s in spans:
        m[s : s + mask_width] = True
    return m


# --------------------------------------------------------------- loss
def _cosine_rows(x: np.ndarray, cands: np.ndarray, eps: float = 1e-8):
    """cos(x_j, cands_jk) for x (M, D), cands (M, K, D) -> (M, K), plus the
    norms needed for the backward."""
    nx = np.sqrt((x * x).sum(-1)) + eps  # (M,)
    nc = np.sqrt((cands * cands).sum(-1)) + eps  # (M, K)
    dots = np.einsum("md,mkd->mk", x, cands)
    return dots / (nx[:, None] * nc), nx, nc, dots


def pretrain_loss_grads(samples: list[tuple[int, np.ndarray]],
                        W: dict[str, np.ndarray], step: int = 0,
                        mask_prob: float = MASK_PROB,
                        mask_width: int = MASK_WIDTH,
                        num_negatives: int = NUM_NEGATIVES,
                        logit_temp: float = LOGIT_TEMP,
                        seed: int = PRETRAIN_SEED):
    """One contrastive pretraining step over a chunk of unlabeled lines.

    samples: (key, tensor) pairs — key seeds the per-sample mask/negative
    RNG (PCG64([seed, step, key])), so the gradient SUM over a set of
    samples is independent of batching and partitioning (the property
    training.py's distributed face relies on). Returns
    (loss_sum, grads_sum, n_masked_frames). Mirrors
    lib/pretrain/model.py:148-180 (_step)."""
    xs = [ts for _k, ts in samples]
    widths = np.asarray([ts.shape[1] for ts in xs], dtype=np.int64)
    wmax = int(widths.max())
    # follow the weights' dtype: float32 in production, float64 under the
    # numeric-gradient and batching-invariance tests
    x = np.zeros((len(xs), 1, rt.HEIGHT, wmax),
                 dtype=W["c0.co.weight"].dtype)
    for i, ts in enumerate(xs):
        x[i, 0, :, : ts.shape[1]] = ts

    feat, w2, fcache = rt.features_fwd(x, widths, W)
    bsz, t, fdim = feat.shape
    memb = W["pre.mask_emb"]
    qw, qb = W["pre.q.weight"], W["pre.q.bias"]

    masks = []
    for i, (key, _ts) in enumerate(samples):
        rng = np.random.Generator(np.random.PCG64([seed, step, int(key)]))
        spans = sample_mask_spans(rng, int(w2[i]), mask_prob, mask_width)
        m = mask_from_spans(spans, t, mask_width)
        if m.sum() < 2 * mask_width:  # need a 2nd span for negatives
            m[:] = False
        masks.append(m)
    mask2d = np.stack(masks)  # (B, T)

    feat_masked = feat.copy()
    feat_masked[mask2d] = memb  # layers.py:77 inputs[mask] = mask_emb
    hcat, ecache = rt.encoder_fwd(feat_masked, w2, W)

    loss_sum = 0.0
    n_pos = 0
    dhcat = np.zeros_like(hcat)
    dfeat_orig = np.zeros_like(feat)  # grads reaching the UNMASKED features
    dmemb = np.zeros_like(memb)
    dqw = np.zeros_like(qw)
    dqb = np.zeros_like(qb)

    for i, (key, _ts) in enumerate(samples):
        m = masks[i]
        mi = int(m.sum())
        if mi < 2:
            continue
        idx = np.nonzero(m)[0]  # (M,)
        f_orig = feat[i, idx]  # (M, F)
        y = f_orig @ qw.T + qb  # (M, D) projected targets
        xx = hcat[i, idx]  # (M, D) encoder outputs
        # negatives: util.py:81-97 — randint over M-1, bump >= positive
        rng = np.random.Generator(np.random.PCG64([seed, step, int(key), 1]))
        neg = rng.integers(0, mi - 1, size=(mi, num_negatives))
        neg[neg >= np.arange(mi)[:, None]] += 1  # never the positive
        cands = np.concatenate([y[:, None, :], y[neg]], axis=1)  # (M, 1+K, D)
        cos, nx, nc, dots = _cosine_rows(xx, cands)
        logits = cos / logit_temp  # (M, 1+K)
        mx = logits.max(axis=1, keepdims=True)
        lse = mx[:, 0] + np.log(np.exp(logits - mx).sum(axis=1))
        loss_sum += float((lse - logits[:, 0]).sum())
        n_pos += mi
        # CE backward, sum reduction
        p = np.exp(logits - lse[:, None])  # softmax (M, 1+K)
        dlogits = p
        dlogits[:, 0] -= 1.0
        dcos = dlogits / logit_temp
        # cosine backward
        inv = 1.0 / (nx[:, None] * nc)  # (M, 1+K)
        dx = np.einsum("mk,mkd->md", dcos * inv, cands) - (
            (dcos * cos).sum(1) / (nx * nx)
        )[:, None] * xx
        dcands = (dcos * inv)[:, :, None] * xx[:, None, :] - (
            dcos * cos / (nc * nc)
        )[:, :, None] * cands
        # scatter candidate grads back onto y
        dy = dcands[:, 0, :].copy()
        np.add.at(dy, neg.reshape(-1),
                  dcands[:, 1:, :].reshape(-1, dcands.shape[-1]))
        dhcat[i, idx] += dx
        dqw += dy.T @ f_orig
        dqb += dy.sum(axis=0)
        dfeat_orig[i, idx] += dy @ qw

    dfeat_enc, grads = rt.encoder_bwd(dhcat, ecache, W)
    # masked positions fed the mask embedding, not the features
    dmemb += dfeat_enc[mask2d].sum(axis=0)
    dfeat_enc[mask2d] = 0.0
    grads.update(rt.features_bwd(dfeat_enc + dfeat_orig, fcache, W))
    grads["pre.mask_emb"] = dmemb
    grads["pre.q.weight"] = dqw
    grads["pre.q.bias"] = dqb
    # out.lin is untouched by the surrogate task
    grads["out.lin.weight"] = np.zeros_like(W["out.lin.weight"])
    grads["out.lin.bias"] = np.zeros_like(W["out.lin.bias"])
    return loss_sum, grads, n_pos


def dataset_pretrain_gradient(samples: list[tuple[int, np.ndarray]],
                              W: dict[str, np.ndarray], step: int = 0,
                              batch: int = 16, **kw):
    """Per-sample-sum gradient over a whole sample list, chunked exactly
    like rec_train.dataset_gradient — the local twin of the distributed
    pretrain gradient (partitioning-independent because every per-sample
    RNG is keyed, not positional)."""
    order = sorted(range(len(samples)), key=lambda i: samples[i][1].shape[1])
    loss_sum = 0.0
    gsum = {k: np.zeros_like(v, dtype=np.float64) for k, v in W.items()}
    n = 0
    for s0 in range(0, len(order), batch):
        chunk = [samples[i] for i in order[s0 : s0 + batch]]
        loss, grads, used = pretrain_loss_grads(chunk, W, step=step, **kw)
        if used:
            loss_sum += loss
            n += used
            for k, g in grads.items():
                gsum[k] += g.astype(np.float64)
    return loss_sum, gsum, n


# --------------------------------------------------------------- asset I/O
def save_pretrain_checkpoint(W: dict[str, np.ndarray], path: str) -> None:
    """Write a pretrain state (backbone + mask embedding + projection
    head) as a kraken-layout safetensors file. The VGSL spec records the
    reference's W masking block (layers.py:98-102) between the feature
    stack and the context encoder, and metadata marks the model_type
    'pretrain' like the reference's Wav2Vec2Mask.model_type."""
    from .modelio import KrakenModelBundle, save_kraken_model

    spec = rt.SPEC.replace(" Lbx", f" {W_SPEC} Lbx")
    meta = dict(rt.METADATA)
    meta["model_type"] = "pretrain"
    save_kraken_model(
        path,
        KrakenModelBundle(vgsl=spec, codec=dict(rt.CODEC),
                          weights={k: np.asarray(v, dtype=np.float32)
                                   for k, v in W.items()},
                          metadata=meta),
        prefix="rec_pretrained", dtype="F32")


def load_pretrain_checkpoint(path: str) -> dict[str, np.ndarray]:
    import json

    from .modelio import parse_safetensors

    blob = open(path, "rb").read()
    tensors, meta = parse_safetensors(blob, path)
    model_map = json.loads(meta["kraken_meta"])
    prefix, model_data = next(iter(model_map.items()))
    if model_data.get("model_type") != "pretrain":
        raise ValueError(f"{path} is not a pretrain checkpoint")
    pfx = f"{prefix}.nn."
    return {k[len(pfx):]: np.asarray(v, dtype=np.float32).copy()
            for k, v in tensors.items() if k.startswith(pfx)}


# --------------------------------------------------------------- loop
def pretrain(samples: list[tuple[int, np.ndarray]], steps: int = 200,
             batch: int = 16, lr: float = 1e-3, seed: int = PRETRAIN_SEED,
             W: dict[str, np.ndarray] | None = None, log_every: int = 0,
             **kw) -> dict[str, np.ndarray]:
    """Local contrastive pretraining loop (the single-node ketos pretrain;
    the cluster face is training.py pretrain_spark). Adam + clip + cosine
    decay, same optimizer stack as the supervised trainer."""
    rng = np.random.Generator(np.random.PCG64(seed))
    W = init_pretrain_weights(rng, W)
    W = {k: np.asarray(v, dtype=np.float32).copy() for k, v in W.items()}
    opt = rt.Adam(W, lr=lr)
    order = sorted(range(len(samples)), key=lambda i: samples[i][1].shape[1])
    n = len(order)
    for step in range(steps):
        start = int(rng.integers(0, max(1, n - batch + 1)))
        chunk = [samples[i] for i in order[start : start + batch]]
        frac = step / max(1, steps - 1)
        cur_lr = lr * (0.1 + 0.9 * 0.5 * (1.0 + np.cos(np.pi * frac)))
        loss, grads, used = pretrain_loss_grads(chunk, W, step=step, **kw)
        if used:
            grads = {k: (g / used).astype(np.float32) for k, g in grads.items()}
            opt.step(W, rt.clip_grads(grads, 5.0), lr=cur_lr)
        if log_every and (step % log_every == 0 or step == steps - 1):
            print(f"[pretrain] step {step:5d} loss/frame "
                  f"{loss / max(1, used):7.4f} lr {cur_lr:.5f}", flush=True)
    return W
