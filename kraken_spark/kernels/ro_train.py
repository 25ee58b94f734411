"""In-repo training of the neural reading-order MLP — pure numpy.

The reference ships trained RO checkpoints (loaded in
/root/reference/kraken/lib/segmentation.py:963-1016 via lib/ro/layers.py);
they are LFS stubs in this snapshot, so earlier rounds ran a CONSTRUCTED
top-to-bottom comparator through the real MLP forward. This module trains
the pairwise order MLP (kernels/ro.OrderMLP: sigmoid(w2·relu(W1·[fu|fv] +
b1) + b2)) from random init with hand-written numpy backprop on the
renderer's exact reading-order ground truth, and ships the learned weights
in-repo (kraken_spark/assets/ro_learned.safetensors, written by
tools/train_ro.py — seeded, bit-reproducible).

What training buys over the constructed comparator: the golden order on
2-column pages is COLUMN-MAJOR (left column fully precedes right for LTR,
reversed for RTL — render.py:147-157, the polygonal_reading_order
semantics), which a pure y-then-x comparator cannot express. The pair
features carry the centers and the element class (class 1 = RTL page), so
the MLP learns the lexicographic (column, y) comparator with the
direction-dependent column sign — pinned in tests/test_ro_train.py where
the learned model orders held-out 2-column LTR and RTL pages exactly while
the constructed comparator does not.
"""

from __future__ import annotations

import os

import numpy as np

from .ro import HIDDEN, OrderMLP, extract_element_features

ASSET = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "assets",
    "ro_learned.safetensors",
)


def page_pairs(doc: dict) -> tuple[np.ndarray, np.ndarray]:
    """(pair_features, labels) for one rendered document: every ordered
    line pair (u, v), label 1 iff u precedes v in the golden order.
    Class feature: 1 for RTL pages (the direction flips the column sign)."""
    lines = doc["lines"]  # already in golden order
    h, w = doc["img"].shape
    cls = 1 if doc["base_dir"] == "R" else 0
    boxes = [tuple(l["bbox"]) for l in lines]
    feats = extract_element_features(boxes, [cls] * len(boxes), w=w, h=h)
    return _expand_pairs(feats)


def _expand_pairs(feats: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """All ordered pairs of golden-ordered element features -> (pair
    features, precedes labels); the shared expansion of page_pairs and
    the markup-GT path."""
    n = feats.shape[0]
    fu = np.repeat(feats, n, axis=0)
    fv = np.tile(feats, (n, 1))
    x = np.concatenate([fu, fv], axis=1)
    iu = np.repeat(np.arange(n), n)
    iv = np.tile(np.arange(n), n)
    keep = iu != iv
    y = (iu < iv).astype(np.float64)  # rows are golden-ordered
    return x[keep].astype(np.float64), y[keep]


def markup_page_pairs(xml_bytes: bytes, level: str = "baselines"
                      ) -> tuple[np.ndarray, np.ndarray] | None:
    """rotrain ground truth from ONE transcribed markup page (the
    reference trains reading order on XML GT, ketos/ro.py:38-259 over
    lib/ro, at --level baselines or regions): the markup's reading order
    (parse rank for lines, document order for regions — the PAGE
    ReadingOrder element is already expanded into that order by the
    parser) is the golden sequence, pair features as in page_pairs.
    Markup rarely carries an explicit base direction, so the RTL class
    flag derives from the dominant strong-direction class of the page's
    text (R/AL majority). None for unusable pages (<2 ordered elements)."""
    import unicodedata

    from . import xmlparse

    if level not in ("baselines", "regions"):
        raise ValueError(f"unknown RO level {level!r}")
    gt = xmlparse.parse_segmentation(xml_bytes)
    lines = sorted(gt["lines"], key=lambda l: l.get("rank") or 0)
    lines = [l for l in lines if l.get("bbox")]
    rtl = total = 0
    for l in lines:
        for ch in (l.get("text") or ""):
            b = unicodedata.bidirectional(ch)
            if b in ("R", "AL"):
                rtl += 1
            if b in ("R", "AL", "L"):
                total += 1
    cls = 1 if total and rtl * 2 > total else 0
    if level == "regions":
        boxes = []
        for r in gt.get("regions", []):
            bnd = r.get("boundary") or []
            if len(bnd) >= 3:
                xs = [p[0] for p in bnd]
                ys = [p[1] for p in bnd]
                boxes.append((min(xs), min(ys), max(xs), max(ys)))
    else:
        boxes = [tuple(l["bbox"]) for l in lines]
    if len(boxes) < 2:
        return None
    w = gt.get("width") or max(b[2] for b in boxes)
    h = gt.get("height") or max(b[3] for b in boxes)
    feats = extract_element_features(boxes, [cls] * len(boxes), w=w, h=h)
    return _expand_pairs(feats)


def pair_gradient_sum(X: np.ndarray, y: np.ndarray, W: dict
                      ) -> tuple[float, dict]:
    """BCE loss SUM + gradient SUMS over a pair block (train_ro's forward/
    backward in per-sample-sum form, so distributed partials fold into the
    same mean the local full batch takes)."""
    pre = X @ W["w1"].T + W["b1"]
    hdn = np.maximum(pre, 0.0)
    logit = hdn @ W["w2"] + W["b2"][0]
    p = 1.0 / (1.0 + np.exp(-np.clip(logit, -40, 40)))
    dlogit = p - y
    g = {
        "w2": hdn.T @ dlogit,
        "b2": np.array([dlogit.sum()]),
    }
    dh = np.outer(dlogit, W["w2"]) * (pre > 0)
    g["w1"] = dh.T @ X
    g["b1"] = dh.sum(axis=0)
    eps = 1e-9
    loss = -float(
        (y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).sum())
    return loss, g


def training_set(n_docs: int = 40) -> tuple[np.ndarray, np.ndarray]:
    """Straight pages from trainer-only seeds (disjoint from every
    evaluation seed), concatenated into one pair dataset — the doc mix
    contains 1- and 2-column pages and RTL (ar) pages by construction."""
    from . import render

    xs, ys = [], []
    for k in range(n_docs):
        d = render.render_document(883000 + k, k)
        x, y = page_pairs(d)
        xs.append(x)
        ys.append(y)
    return np.concatenate(xs), np.concatenate(ys)


def train_ro(
    steps: int = 4000,
    lr: float = 0.02,
    batch: int = 4096,
    seed: int = 20240818,
    data: tuple[np.ndarray, np.ndarray] | None = None,
    log_every: int = 0,
) -> OrderMLP:
    """Adam + BCE from random init; returns the trained OrderMLP."""
    from .rec_train import Adam

    rng = np.random.Generator(np.random.PCG64(seed))
    X, Y = data if data is not None else training_set()
    d2 = X.shape[1]
    W = {
        "w1": rng.standard_normal((HIDDEN, d2)) * (2.0 / d2) ** 0.5,
        "b1": np.zeros(HIDDEN),
        "w2": rng.standard_normal(HIDDEN) * (2.0 / HIDDEN) ** 0.5,
        "b2": np.zeros(1),
    }
    opt = Adam(W)
    lr0 = lr
    for step in range(1, steps + 1):
        lr = lr0 * (0.02 + 0.98 * 0.5 * (1 + np.cos(np.pi * (step - 1) / steps)))
        idx = rng.integers(0, len(X), min(batch, len(X)))
        x, y = X[idx], Y[idx]
        pre = x @ W["w1"].T + W["b1"]
        hdn = np.maximum(pre, 0.0)
        logit = hdn @ W["w2"] + W["b2"][0]
        p = 1.0 / (1.0 + np.exp(-np.clip(logit, -40, 40)))
        dlogit = (p - y) / len(y)
        g = {
            "w2": hdn.T @ dlogit,
            "b2": np.array([dlogit.sum()]),
        }
        dh = np.outer(dlogit, W["w2"]) * (pre > 0)
        g["w1"] = dh.T @ x
        g["b1"] = dh.sum(axis=0)
        opt.step(W, g, lr=lr)
        if log_every and step % log_every == 0:
            eps = 1e-9
            loss = -float(
                (y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).mean()
            )
            print(f"step {step:5d}  loss {loss:.5f}")
    return OrderMLP(
        W["w1"].astype(np.float32),
        W["b1"].astype(np.float32),
        W["w2"].astype(np.float32),
        float(W["b2"][0]),
    )


def save_mlp(mlp: OrderMLP, path: str = ASSET,
             metadata: dict | None = None) -> None:
    from .modelio import write_safetensors

    os.makedirs(os.path.dirname(path), exist_ok=True)
    md = {"arch": f"pair-mlp-h{HIDDEN}", "trainer": "ro_train.train_ro"}
    md.update(metadata or {})
    write_safetensors(
        path,
        {
            "w1": mlp.w1.astype(np.float32),
            "b1": mlp.b1.astype(np.float32),
            "w2": mlp.w2.astype(np.float32),
            "b2": np.array([mlp.b2], dtype=np.float32),
        },
        metadata=md,
    )


RO_PREFIX = "aux.ro_model."  # nesting of an attached RO net (roadd analog)

_RO_KEYS = ("w1", "b1", "w2", "b2")


def load_mlp(path: str | None = None) -> OrderMLP | None:
    """Load the pairwise RO MLP from a plain RO weights file, from a
    COMBINED segmentation+RO file (attach_ro_model's 'aux.ro_model.'
    nesting — the reference's seg_net.aux_layers['ro_model'] shape), or
    from the shipped asset."""
    from ..assets_io import asset_bytes
    from .modelio import parse_safetensors, read_safetensors

    if path is not None:
        if not os.path.exists(path):
            return None
        t, _ = read_safetensors(path)
    else:  # the shipped asset: plain file OR --py-files zip entry
        blob = asset_bytes(os.path.basename(ASSET))
        if blob is None:
            return None
        t, _ = parse_safetensors(blob, ASSET)
    if "w1" not in t and RO_PREFIX + "w1" in t:
        t = {k[len(RO_PREFIX):]: v for k, v in t.items()
             if k.startswith(RO_PREFIX)}
    if not all(k in t for k in _RO_KEYS):
        return None
    return OrderMLP(t["w1"], t["b1"], t["w2"], float(t["b2"][0]))


def attach_ro_model(seg_path: str, ro_path: str, output: str,
                    level: str = "baselines") -> str:
    """The ketos-roadd analog (reference ketos/ro.py:261-313): combine a
    reading-order model with a segmentation weights file into ONE
    container. The reference stores the ROMLP under the seg net's
    aux_layers['ro_model' | 'ro_model_regions'] and refuses mismatched
    class mappings; this flat-safetensors twin nests the RO tensors under
    'aux.ro_model.' (seg tensors unchanged — seg_train.load_weights reads
    the combined file as before), records the level in the metadata, and
    validates both inputs' layouts. Re-attaching replaces a previously
    attached RO net. Returns the output path."""
    from .modelio import read_safetensors, write_safetensors

    if level not in ("baselines", "regions"):
        raise ValueError(f"unknown RO level {level!r}")
    seg_t, seg_meta = read_safetensors(seg_path)
    if not {"w0", "b0", "u", "v", "b1"} <= set(seg_t):
        raise ValueError(
            f"{seg_path} is not a segmentation weights file (expected the "
            "seg_train conv layout)")
    ro_t, ro_meta = read_safetensors(ro_path)
    if RO_PREFIX + "w1" in ro_t:  # an already-combined file donates its net
        ro_t = {k[len(RO_PREFIX):]: v for k, v in ro_t.items()
                if k.startswith(RO_PREFIX)}
    if not all(k in ro_t for k in _RO_KEYS):
        raise ValueError(
            f"{ro_path} is not a reading-order model (expected the "
            "pair-MLP w1/b1/w2/b2 layout)")
    # the reference's class-mapping compatibility check: the MLP's pair
    # feature width fixes the class count it was trained with
    n_classes = ro_t["w1"].shape[1] // 2 - 6
    if n_classes < 1:
        raise ValueError(f"{ro_path}: malformed pair-feature width "
                         f"{ro_t['w1'].shape[1]}")
    combined = {k: v for k, v in seg_t.items()
                if not k.startswith(RO_PREFIX)}
    combined.update({RO_PREFIX + k: ro_t[k] for k in _RO_KEYS})
    meta = dict(seg_meta)
    meta["ro_level"] = level
    meta["ro_n_classes"] = str(n_classes)
    if "arch" in ro_meta:
        meta["ro_arch"] = ro_meta["arch"]
    write_safetensors(output, combined, meta)
    return output
