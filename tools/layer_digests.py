#!/usr/bin/env python
"""Print one JSON line of sha256 prefixes over the VGSL layer outputs and
trainer gradients, for seeded inputs:

    python tools/layer_digests.py

Run it in two checkouts (e.g. a commit and its parent) and compare the
lines: a refactor of the layer math that keeps every digest is
bit-identical on

- TorchVGSL ``forward`` (per line) and ``forward_batch`` (width-sorted
  chunks of 7) softmax probs on the committed ``rec_learned`` model,
- the constructed VGSLModel recognizer on rendered corpus line strips,
- random-init VGSLModel nets covering conv, max-pool, every LSTM
  direction/summarize variant and the GRU,
- ``rec_train.batch_grad_sums`` and ``rec_pretrain.pretrain_loss_grads``
  losses and gradients (key order included: clipping sums in that order),
- ``seg_train.crop_gradient`` and ``seg_train.forward_infer``,
- the optimizer: short seeded runs of ``seg_train.train`` and
  ``ro_train.train_ro`` (float64 weights, Adam under each trainer's own
  cosine schedule) and an ``rec_train.Adam`` step sequence on float32
  weights (weights and both moments),
- the segmentation finish: ``pageseg.segment``, ``blla.segment_blla``
  (analog vectorizer with rect and seam boundaries, and the reference
  vectorizer) and ``merge.merge_segmentations`` JSON output on rendered
  corpus pages (one- and two-column, left-to-right and right-to-left),
  each upright and rotated to ``vertical-*``, with and without a
  reversing reading-order hook (its call count included).

GEMM reduction order depends on the BLAS thread count, so it is pinned to
one thread before numpy loads (an explicit OPENBLAS_NUM_THREADS wins).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from kraken_spark.kernels import rec_pretrain as rp  # noqa: E402
from kraken_spark.kernels import rec_train as rt  # noqa: E402
from kraken_spark.kernels import binarize, blla, merge, pageseg, png  # noqa: E402
from kraken_spark.kernels import render, ro_train, seg_train  # noqa: E402
from kraken_spark.kernels.recognizer import build_recognizer, input_transform  # noqa: E402
from kraken_spark.kernels.torchvgsl import TorchVGSL  # noqa: E402
from kraken_spark.kernels.vgsl import VGSLModel  # noqa: E402

# (seed, doc) rendered pages: en one-column, fr two-column, ar two-column
SEG_PAGES = ((42, 0), (42, 1), (1234, 5))
SEGMENTERS = {
    "pageseg": pageseg.segment,
    "blla_rect": blla.segment_blla,
    "blla_seam": lambda m, **kw: blla.segment_blla(m, boundary_mode="seam", **kw),
    "blla_ref": lambda m, **kw: blla.segment_blla(m, vectorizer="reference", **kw),
}

RANDOM_NETS = (
    "[1,16,0,1 Cr3,3,8 Mp2,2 Lbx10 O1c5]",
    "[1,8,0,1 Cr3,3,4 Gbx6]",
    "[1,8,0,1 Lrys7]",
    "[1,8,0,1 Lfxs5]",
    "[1,1,0,1 Lrx3]",
)


def _digest(arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        if isinstance(a, str):
            h.update(a.encode())
            continue
        a = np.asarray(a)
        h.update(f"{a.dtype}{a.shape}".encode())
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:16]


def _grads_digest(loss, grads, n=0) -> str:
    items = [f"{float(loss)!r}/{n}"]
    for k, g in grads.items():
        items += [k, g]
    return _digest(items)


def _segmentation_digests(out: dict[str, str]) -> None:
    calls: list[int] = []

    def reversed_order(line_bboxes, _line_regions, _region_bboxes, _rl):
        calls.append(len(line_bboxes))
        return list(range(len(line_bboxes)))[::-1]

    pages = []
    for seed, idx in SEG_PAGES:
        d = render.render_document(seed, idx)
        mask = binarize.nlbin(png.to_grayscale(d["img"]))
        side = "rl" if d["base_dir"] == "R" else "lr"
        pages.append((f"horizontal-{side}", mask, f"{seed}/{idx}"))
        pages.append((f"vertical-{side}", np.ascontiguousarray(np.rot90(mask, k=3)), f"{seed}/{idx}"))
    for orient in ("horizontal", "vertical"):
        plain: dict[str, list[dict]] = {}
        for name, fn in SEGMENTERS.items():
            for hook in (None, reversed_order):
                calls.clear()
                segs = [
                    fn(m, url=u, text_direction=td, reading_order_fn=hook)
                    for td, m, u in pages
                    if td.startswith(orient)
                ]
                if hook is None:
                    plain[name] = segs
                key = f"seg_{name} {orient}" + (" hook" if hook else "")
                out[key] = _digest([json.dumps(segs, sort_keys=True), repr(calls)])
        merged = [
            merge.merge_segmentations([p, b], rl=p["text_direction"].endswith("rl"))
            for p, b in zip(plain["pageseg"], plain["blla_rect"])
        ]
        out[f"seg_merge {orient}"] = _digest([json.dumps(merged, sort_keys=True)])


def main() -> None:
    out: dict[str, str] = {}
    synth = rt.synth_line_samples(883201, 24, max_words=4)
    page = rt.page_training_lines(rt.TRAIN_SEED, 0)
    tensors = [ts for ts, _l, _t in synth + page]

    bundle = rt.load_asset()
    net = TorchVGSL(bundle.vgsl, bundle.weights)
    out["torchvgsl_forward"] = _digest(net.forward(t) for t in tensors)
    order = sorted(range(len(tensors)), key=lambda i: tensors[i].shape[1])
    batched = []
    for s0 in range(0, len(order), 7):
        batched += net.forward_batch([tensors[i] for i in order[s0 : s0 + 7]])
    out["torchvgsl_forward_batch7"] = _digest(batched)

    model = build_recognizer()
    acts = []
    for seed, idx in ((1234, 0), (7, 3), (555, 5)):
        d = render.render_document(seed, idx)
        for line in d["lines"]:
            x0, y0, x1, y1 = line["bbox"]
            strip = d["ink"][y0:y1, x0:x1]
            if strip.size:
                acts.append(model.forward(input_transform(strip)))
    out["vgsl_recognizer"] = _digest(acts)

    rng = np.random.Generator(np.random.PCG64(20261017))
    for spec in RANDOM_NETS:
        m = VGSLModel(spec).init_random(7)
        x = rng.standard_normal((1, m.height, 37)).astype(np.float32)
        out[f"vgsl_random {spec[1:-1].split(' ', 1)[1]}"] = _digest([m.forward(x)])

    W = rt.init_weights(np.random.Generator(np.random.PCG64(883101)))
    x, widths, labels = rt.make_batch(synth[:8])
    out["rec_train_batch_grad_sums"] = _grads_digest(*rt.batch_grad_sums(x, widths, labels, W))

    Wp = rp.init_pretrain_weights(np.random.Generator(np.random.PCG64(884401)))
    samples = [(i, ts) for i, (ts, _l, _t) in enumerate(synth[:8])]
    out["rec_pretrain_loss_grads"] = _grads_digest(*rp.pretrain_loss_grads(samples, Wp, step=3))

    xs, tb, tr = seg_train.gt_maps(render.render_document(881000, 0))
    Ws = seg_train.init_weights(np.random.Generator(np.random.PCG64(20240817)))
    loss, g = seg_train.crop_gradient(xs, tb, tr, Ws, 40, 56, 96)
    out["seg_train_crop_gradient"] = _grads_digest(loss, g)
    out["seg_train_forward_infer"] = _digest([seg_train.forward_infer(xs, seg_train.load_weights())])

    docs = [render.render_document(881000, i) for i in range(2)]
    Wt = seg_train.train(steps=4, crop=96, batch=2,
                         pages=[seg_train.gt_maps(d) for d in docs])
    out["seg_train_train"] = _digest(x for k in sorted(Wt) for x in (k, Wt[k]))
    pairs = [ro_train.page_pairs(d) for d in docs]
    mlp = ro_train.train_ro(steps=6, batch=128, data=(
        np.concatenate([X for X, _y in pairs]),
        np.concatenate([y for _X, y in pairs])))
    out["ro_train_train_ro"] = _digest([mlp.w1, mlp.b1, mlp.w2, np.float64(mlp.b2)])

    rng = np.random.Generator(np.random.PCG64(20261019))
    Wa = {"a": rng.standard_normal((3, 5)).astype(np.float32),
          "b": rng.standard_normal(7).astype(np.float32)}
    opt = rt.Adam(Wa, lr=1e-2)
    for t in range(8):
        g = {k: rng.standard_normal(v.shape).astype(np.float32) for k, v in Wa.items()}
        opt.step(Wa, g, lr=1e-2 * (0.1 + 0.9 * 0.5 * (1.0 + np.cos(np.pi * t / 7))))
    out["adam_float32"] = _digest(x for k in sorted(Wa) for x in (k, Wa[k], opt.m[k], opt.v[k]))
    _segmentation_digests(out)
    print(json.dumps(out, sort_keys=True))


if __name__ == "__main__":
    main()
