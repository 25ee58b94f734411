"""VGSL (Variable-size Graph Specification Language) networks in numpy.

Forward-only reimplementation of the reference's VGSL model machinery
(/root/reference/kraken/lib/vgsl/model.py:109-243 parser,
/root/reference/kraken/lib/vgsl/layers.py layer impls): a spec string like

    [1,48,0,1 Cr3,3,32 Mp2,2 Lbx64 O1c57]

defines input (batch, height, width, channels) followed by layers. Supported
blocks (the inference-relevant subset):

  C(r|l|s|t|m)<y>,<x>,<d>[,<sy>,<sx>]  conv, activation, kernel y,x, depth d,
                                        optional stride (kraken extension) —
                                        VALID padding when strided, SAME else
  Mp<y>,<x>                             max pooling
  L(f|r|b)(x|y)[s]<n>                   LSTM: forward/reversed/bidi over
                                        width or height, optional 's'
                                        summarizing (keep final state only)
  G(f|r|b)(x|y)[s]<n>                   GRU, same grammar
  Gn<g>                                 group norm
  Do<p>                                 dropout (identity at inference)
  S<d>(...)                             squeeze height into channels
  O1c<n>                                per-timestep linear + softmax (CTC head)

Data layout is (C, H, W) float32 per line image; the output of a full model
is (T, classes) softmax activations fed to the CTC greedy decoder.

Weights live in a plain dict name->ndarray and serialize via np.savez +
json metadata (the engine's analog of the reference's safetensors loaders,
/root/reference/kraken/models/loaders.py).
"""

from __future__ import annotations

import io
import json
import re

import numpy as np

from .layers import lstm, maxpool, softmax

_ACT = {
    "r": lambda x: np.maximum(x, 0.0),
    "l": lambda x: x,
    "s": lambda x: 1.0 / (1.0 + np.exp(-np.clip(x, -60.0, 60.0))),
    "t": np.tanh,
    "m": lambda x: softmax(x, axis=0),
}


def _rect_decompose(k2d: np.ndarray) -> list[tuple[float, int, int, int, int]]:
    """Greedy cover of a 2D kernel by constant-value rectangles
    (value, y0, y1, x0, x1) with zeros skipped; exact for any kernel, but
    only worth using when the cover is small (box-like heatmap kernels)."""
    kh, kw = k2d.shape
    covered = np.zeros((kh, kw), dtype=bool)
    rects = []
    for y in range(kh):
        for x in range(kw):
            if covered[y, x] or k2d[y, x] == 0:
                continue
            v = k2d[y, x]
            x1 = x
            while x1 + 1 < kw and not covered[y, x1 + 1] and k2d[y, x1 + 1] == v:
                x1 += 1
            y1 = y
            while (
                y1 + 1 < kh
                and not covered[y1 + 1, x : x1 + 1].any()
                and (k2d[y1 + 1, x : x1 + 1] == v).all()
            ):
                y1 += 1
            covered[y : y1 + 1, x : x1 + 1] = True
            rects.append((float(v), y, y1 + 1, x, x1 + 1))
    return rects


def _conv2d(x: np.ndarray, w: np.ndarray, b: np.ndarray, stride: tuple[int, int], pad: str) -> np.ndarray:
    """x: (C,H,W); w: (O,C,kh,kw); returns (O,H',W').

    Three execution strategies: integral-image box sums when every kernel
    decomposes into a handful of constant-weight rectangles AND the input
    is integer-valued (page-sized heatmap convs over binary ink — one
    float64 summed-area table per channel, then 4 slice-adds per
    rectangle; exact, since integer sums are representable in float64);
    else a shifted-tap accumulation loop when the nonzero-tap x
    output-channel count is small (the sliding-window tensordot would
    materialize an O(H*W*kh*kw) window tensor, ~92 MB for a 7x7 over a
    half-res page); else im2col + tensordot (recognizer convs: many output
    channels, small strips)."""
    c, h, wid = x.shape
    o, _, kh, kw = w.shape
    sh, sw = stride
    if pad == "same":
        ph, pw = kh // 2, kw // 2
        x = np.pad(x, ((0, 0), (ph, ph), (pw, pw)))
        h, wid = x.shape[1], x.shape[2]
    if h < kh or wid < kw:
        return np.zeros((o, 0, 0), dtype=np.float32)
    oh = (h - kh) // sh + 1
    ow = (wid - kw) // sw + 1
    rect_sets = (
        [[_rect_decompose(w[oi, ci]) for ci in range(c)] for oi in range(o)]
        if o * c <= 8
        else []
    )
    total_rects = sum(len(r) for rs in rect_sets for r in rs)
    if 0 < total_rects <= 16 and all(
        float(xi.min()) >= 0.0 and float(xi.max()) <= 2**20 and np.all(xi == np.floor(xi))
        for xi in x
    ):
        out = np.zeros((o, oh, ow), dtype=np.float64)
        for ci in range(c):
            # binary-ink channels (the page-sized heatmap case) take an
            # int32 summed-area table: the sum is bounded by the pixel
            # count (admission cap << 2^31), integer arithmetic is exact,
            # and the table — the dominant memory traffic of this path —
            # is half the float64 size. Values are identical: the float64
            # SAT held exact integers too, and v * (exact int diff) is
            # the same float64 product either way.
            if float(x[ci].max()) <= 1.0 and h * wid < 2**31:
                sat = np.zeros((h + 1, wid + 1), dtype=np.int32)
                sat[1:, 1:] = (
                    x[ci].astype(np.int32, copy=False).cumsum(axis=0).cumsum(axis=1)
                )
            else:
                sat = np.zeros((h + 1, wid + 1), dtype=np.float64)
                sat[1:, 1:] = (
                    x[ci].astype(np.float64, copy=False).cumsum(axis=0).cumsum(axis=1)
                )
            for oi in range(o):
                for v, ry0, ry1, rx0, rx1 in rect_sets[oi][ci]:
                    out[oi] += v * (
                        sat[ry1 : ry1 + oh * sh : sh, rx1 : rx1 + ow * sw : sw]
                        - sat[ry0 : ry0 + oh * sh : sh, rx1 : rx1 + ow * sw : sw]
                        - sat[ry1 : ry1 + oh * sh : sh, rx0 : rx0 + ow * sw : sw]
                        + sat[ry0 : ry0 + oh * sh : sh, rx0 : rx0 + ow * sw : sw]
                    )
        return (out + b[:, None, None]).astype(np.float32)
    nonzero_taps = int((w != 0).any(axis=0).sum())
    if nonzero_taps * o <= 128:
        out = np.zeros((o, oh, ow), dtype=np.float32)
        xf = x.astype(np.float32, copy=False)
        for ci in range(c):
            for dy in range(kh):
                for dx in range(kw):
                    col = w[:, ci, dy, dx]
                    if not col.any():
                        continue
                    patch = xf[ci, dy : dy + oh * sh : sh, dx : dx + ow * sw : sw]
                    for oi in range(o):
                        if col[oi] != 0.0:
                            out[oi] += col[oi] * patch
        return out + b[:, None, None].astype(np.float32)
    win = np.lib.stride_tricks.sliding_window_view(x, (kh, kw), axis=(1, 2))
    win = win[:, ::sh, ::sw]  # (C, H', W', kh, kw)
    out = np.tensordot(w, win, axes=([1, 2, 3], [0, 3, 4]))  # (O, H', W')
    return (out + b[:, None, None]).astype(np.float32)


def _gru_dir(seq: np.ndarray, wih: np.ndarray, whh: np.ndarray, bih: np.ndarray, bhh: np.ndarray) -> np.ndarray:
    """GRU over (T, F); gates packed [r, z, n] (torch convention)."""
    t, _ = seq.shape
    hid = whh.shape[1]
    hs = np.zeros((t, hid), dtype=np.float32)
    h = np.zeros(hid, dtype=np.float32)
    pre_ih = seq @ wih.T + bih  # (T, 3H)
    for k in range(t):
        ph = h @ whh.T + bhh
        r = 1.0 / (1.0 + np.exp(-(pre_ih[k, :hid] + ph[:hid])))
        z = 1.0 / (1.0 + np.exp(-(pre_ih[k, hid : 2 * hid] + ph[hid : 2 * hid])))
        n = np.tanh(pre_ih[k, 2 * hid :] + r * ph[2 * hid :])
        h = (1.0 - z) * n + z * h
        hs[k] = h
    return hs


_LAYER_RE = re.compile(
    r"(?P<conv>C(?P<cact>[rlstm])(?P<cargs>[\d,]+))"
    r"|(?P<pool>Mp(?P<pargs>[\d,]+))"
    r"|(?P<rnn>(?P<rkind>[LG])(?P<ldir>[fbr])(?P<ldim>[xy])(?P<lsum>s?)(?P<lhid>\d+))"
    r"|(?P<gn>Gn(?P<gng>\d+))"
    r"|(?P<do>Do[\d.,]*)"
    r"|(?P<sq>S\d.*)"
    r"|(?P<ident>I)"
    r"|(?P<out>O1(?P<oact>[cs])(?P<on>\d+))"
)


def _tokenize_groups(tokens: list[str]) -> list:
    """Group space-separated spec tokens into a tree: '(' ... ')' parallel
    blocks (outputs summed — the reference's Addition residual,
    lib/vgsl/model.py:876-902, layers.py:188-241) and '[' ... ']' series
    blocks (model.py:847-874). Returns a list of str | ('par'|'ser', sub)."""
    out: list = []
    i = 0
    while i < len(tokens):
        tok = tokens[i]
        if tok and tok[0] in "([":
            close = ")" if tok[0] == "(" else "]"
            kind = "par" if tok[0] == "(" else "ser"
            depth = 0
            group: list[str] = []
            j = i
            while j < len(tokens):
                t = tokens[j]
                depth += t.count(tok[0]) - t.count(close)
                group.append(t)
                if depth == 0:
                    break
                j += 1
            if depth != 0:
                raise ValueError("unbalanced brackets in VGSL spec")
            group[0] = group[0][1:]
            group[-1] = group[-1][:-1]
            inner = [g for g in group if g]
            out.append((kind, _tokenize_groups(inner)))
            i = j + 1
        else:
            out.append(tok)
            i += 1
    return out


class VGSLModel:
    """Parsed VGSL spec + weights; forward() maps line image -> softmax grid."""

    def __init__(self, spec: str, weights: dict[str, np.ndarray] | None = None, codec: dict | None = None):
        spec = spec.strip()
        if not (spec.startswith("[") and spec.endswith("]")):
            raise ValueError(f"spec must be bracketed: {spec!r}")
        blocks = spec[1:-1].split()
        m = re.match(r"(\d+),(\d+),(\d+),(\d+)", blocks[0])
        if not m:
            raise ValueError(f"bad input block {blocks[0]!r}")
        self.batch, self.height, self.width, self.channels = map(int, m.groups())
        self.spec = spec
        self.layers: list[dict] = []  # flat list (introspection / weights)
        self._counter = 0
        self.tree = self._build_nodes(_tokenize_groups(blocks[1:]))
        self.weights: dict[str, np.ndarray] = weights or {}
        self.codec = codec or {}

    def _build_nodes(self, groups: list) -> list:
        nodes = []
        for g in groups:
            if isinstance(g, tuple):
                kind, sub = g
                nodes.append(
                    {"kind": "parallel" if kind == "par" else "series",
                     "children": self._build_nodes(sub)}
                )
            else:
                layer = self._parse_layer(g)
                self.layers.append(layer)
                nodes.append(layer)
        return nodes

    def _parse_layer(self, blk: str) -> dict:
        i = self._counter
        self._counter += 1
        lm = _LAYER_RE.fullmatch(blk)
        if not lm:
            raise ValueError(f"unparseable VGSL block {blk!r}")
        if lm.group("conv"):
            args = [int(a) for a in lm.group("cargs").split(",")]
            ky, kx, d = args[0], args[1], args[2]
            stride = (args[3], args[4]) if len(args) >= 5 else (1, 1)
            pad = "valid" if stride != (1, 1) else "same"
            return {"kind": "conv", "name": f"conv{i}", "act": lm.group("cact"),
                    "k": (ky, kx), "d": d, "stride": stride, "pad": pad}
        if lm.group("pool"):
            ky, kx = [int(a) for a in lm.group("pargs").split(",")][:2]
            return {"kind": "pool", "k": (ky, kx)}
        if lm.group("rnn"):
            return {"kind": "lstm", "name": f"lstm{i}",
                    "cell": "gru" if lm.group("rkind") == "G" else "lstm",
                    "dir": lm.group("ldir"),
                    "bidi": lm.group("ldir") == "b",
                    "dim": lm.group("ldim"),
                    "summarize": lm.group("lsum") == "s",
                    "hidden": int(lm.group("lhid"))}
        if lm.group("gn"):
            return {"kind": "gn", "name": f"gn{i}", "groups": int(lm.group("gng"))}
        if lm.group("do") or lm.group("ident"):
            return {"kind": "identity"}
        if lm.group("sq"):
            return {"kind": "squeeze"}
        return {"kind": "out", "name": f"out{i}", "classes": int(lm.group("on")),
                "softmax": lm.group("oact") == "c"}

    # -- initialization -----------------------------------------------------
    def init_random(self, seed: int = 42) -> "VGSLModel":
        """Deterministic random weights (shape-test / smoke use)."""
        rng = np.random.Generator(np.random.PCG64(seed))
        self._init_nodes(self.tree, self.channels, self.height, rng)
        return self

    def _init_nodes(self, nodes: list, c: int, h: int, rng) -> tuple[int, int]:
        for node in nodes:
            kind = node["kind"]
            if kind == "series":
                c, h = self._init_nodes(node["children"], c, h, rng)
            elif kind == "parallel":
                shapes = [self._init_nodes([ch], c, h, rng) for ch in node["children"]]
                if len(set(shapes)) > 1:
                    raise ValueError(f"parallel branches disagree on shape: {shapes}")
                c, h = shapes[0]
            else:
                c, h = self._init_layer(node, c, h, rng)
        return c, h

    def _init_layer(self, layer: dict, c: int, h: int, rng) -> tuple[int, int]:
        if layer["kind"] == "conv":
            ky, kx = layer["k"]
            self.weights[layer["name"] + ".w"] = rng.normal(
                0, 0.1, (layer["d"], c, ky, kx)
            ).astype(np.float32)
            self.weights[layer["name"] + ".b"] = np.zeros(layer["d"], np.float32)
            c = layer["d"]
            if layer["pad"] == "valid":
                h = (h - ky) // layer["stride"][0] + 1
        elif layer["kind"] == "pool":
            h //= layer["k"][0]
        elif layer["kind"] == "squeeze":
            c, h = c * h, 1
        elif layer["kind"] == "lstm":
            hid = layer["hidden"]
            feat = c  # per-row/column batching: features are channels
            ngates = 3 if layer.get("cell") == "gru" else 4
            for d in (["fwd", "bwd"] if layer["bidi"] else ["fwd"]):
                self.weights[f"{layer['name']}.{d}.wih"] = rng.normal(0, 0.1, (ngates * hid, feat)).astype(np.float32)
                self.weights[f"{layer['name']}.{d}.whh"] = rng.normal(0, 0.1, (ngates * hid, hid)).astype(np.float32)
                if layer.get("cell") == "gru":
                    self.weights[f"{layer['name']}.{d}.bih"] = np.zeros(ngates * hid, np.float32)
                    self.weights[f"{layer['name']}.{d}.bhh"] = np.zeros(ngates * hid, np.float32)
                else:
                    self.weights[f"{layer['name']}.{d}.b"] = np.zeros(ngates * hid, np.float32)
            c = hid * (2 if layer["bidi"] else 1)
            if layer.get("summarize") and layer.get("dim") == "y":
                h = 1
        elif layer["kind"] == "gn":
            self.weights[layer["name"] + ".g"] = np.ones(c, np.float32)
            self.weights[layer["name"] + ".b"] = np.zeros(c, np.float32)
        elif layer["kind"] == "out":
            self.weights[layer["name"] + ".w"] = rng.normal(0, 0.1, (layer["classes"], c * h)).astype(np.float32)
            self.weights[layer["name"] + ".b"] = np.zeros(layer["classes"], np.float32)
        return c, h

    # -- fine-tuning surgery ------------------------------------------------
    def append(self, idx: int, spec: str, seed: int = 42) -> "VGSLModel":
        """Split the model after layer ``idx`` (1-based over non-input
        blocks) and append the bracketed ``spec``'s layers, keeping the
        retained layers' weights and initializing only the new ones
        (reference TorchVGSLModel.append, lib/vgsl/model.py:245-269).
        Mutates self and returns it."""
        blocks = self.spec[1:-1].split()
        new_blocks = blocks[: idx + 1] + spec.strip()[1:-1].split()
        new = VGSLModel("[" + " ".join(new_blocks) + "]", codec=self.codec)
        new.init_random(seed)
        for k, v in self.weights.items():
            if k in new.weights and new.weights[k].shape == v.shape:
                new.weights[k] = v
        self.__dict__.update(new.__dict__)
        return self

    def resize_output(self, output_size: int,
                      del_indices=None, seed: int = 42) -> "VGSLModel":
        """Resize the final output layer with minimal disturbance
        (reference lib/vgsl/layers.py:753-783 LinSoftmax.resize + model.py
        :548-568): rows at ``del_indices`` are removed, surviving rows keep
        their weights, new rows are Xavier-uniform with zero bias, and the
        spec's output block is rewritten. Pairs with Codec.merge for
        fine-tuning vocabulary surgery."""
        layer = self.layers[-1] if self.layers else None
        if not layer or layer["kind"] != "out":
            raise ValueError("last layer is not an output layer")
        wk, bk = layer["name"] + ".w", layer["name"] + ".b"
        if wk not in self.weights:
            raise ValueError("output layer has no weights (init first)")
        W, b = self.weights[wk], self.weights[bk]
        drop = set(del_indices or [])
        keep = [i for i in range(W.shape[0]) if i not in drop]
        if len(keep) > output_size:
            raise ValueError(
                f"cannot shrink {len(keep)} surviving outputs into "
                f"{output_size}")
        rng = np.random.Generator(np.random.PCG64(seed))
        extra = output_size - len(keep)
        limit = float(np.sqrt(6.0 / (W.shape[1] + output_size)))
        self.weights[wk] = np.concatenate(
            [W[keep], rng.uniform(-limit, limit,
                                  (extra, W.shape[1])).astype(np.float32)])
        self.weights[bk] = np.concatenate(
            [b[keep], np.zeros(extra, np.float32)])
        layer["classes"] = output_size
        self.spec = re.sub(r"(O(?P<dim>[012])(?P<t>[lsc])a?)\d+(\s*\]$)",
                           lambda m: m.group(1) + str(output_size) + m.group(4),
                           self.spec)
        return self

    # -- inference ----------------------------------------------------------
    def forward(self, x: np.ndarray) -> np.ndarray:
        """x: (C,H,W) or (H,W) float32 -> (T, classes) activations."""
        if x.ndim == 2:
            x = x[None]
        x = x.astype(np.float32, copy=False)
        out = self._forward_nodes(x, self.tree)
        if isinstance(out, tuple):  # terminal output layer result
            return out[1]
        # no explicit output layer: return (T, C) of the last feature map
        c, h, w = out.shape
        return out.reshape(c * h, w).T

    def _forward_nodes(self, x: np.ndarray, nodes: list):
        for node in nodes:
            kind = node["kind"]
            if kind == "series":
                x = self._forward_nodes(x, node["children"])
                if isinstance(x, tuple):
                    return x
            elif kind == "parallel":
                acc = None
                for child in node["children"]:
                    y = self._forward_nodes(x, [child])
                    if isinstance(y, tuple):
                        raise ValueError("output layer inside parallel block")
                    acc = y if acc is None else acc + y
                x = acc
            else:
                x = self._forward_layer(x, node)
                if isinstance(x, tuple):
                    return x
        return x

    def _forward_layer(self, x: np.ndarray, layer: dict):
        kind = layer["kind"]
        if kind == "conv":
            x = _conv2d(
                x,
                self.weights[layer["name"] + ".w"],
                self.weights[layer["name"] + ".b"],
                layer["stride"],
                layer["pad"],
            )
            return _ACT[layer["act"]](x)
        if kind == "pool":
            return maxpool(x, layer["k"], layer["k"])
        if kind == "squeeze":
            c, h, w = x.shape
            return x.reshape(c * h, 1, w)
        if kind == "gn":
            g = layer["groups"]
            c = x.shape[0]
            xs = x.reshape(g, c // g, *x.shape[1:])
            mu = xs.mean(axis=(1, 2, 3), keepdims=True)
            sd = xs.std(axis=(1, 2, 3), keepdims=True) + 1e-5
            x = ((xs - mu) / sd).reshape(c, *x.shape[1:])
            return x * self.weights[layer["name"] + ".g"][:, None, None] + self.weights[layer["name"] + ".b"][:, None, None]
        if kind == "lstm":
            return self._run_rnn(x, layer)
        if kind == "out":
            c, h, w = x.shape
            seq = x.reshape(c * h, w).T  # (T, F)
            logits = seq @ self.weights[layer["name"] + ".w"].T + self.weights[layer["name"] + ".b"]
            return ("out", softmax(logits, axis=1) if layer["softmax"] else logits)
        return x  # identity

    def _run_rnn(self, x: np.ndarray, layer: dict) -> np.ndarray:
        """RNN block per the reference's TransposedSummarizingRNN semantics
        (/root/reference/kraken/lib/vgsl/layers.py:462+): sequence along the
        chosen dim (x=W, y=H), the other spatial dim is batch, features = C;
        'r' runs reversed, 's' keeps only the final state (seq dim -> 1)."""
        n = layer["name"]
        cell = layer.get("cell", "lstm")
        over_y = layer.get("dim", "x") == "y"
        if over_y:
            x = x.transpose(0, 2, 1)  # (C, W=batch, H=seq)
        c, batch, t = x.shape
        seqs = x.transpose(1, 2, 0)  # (B, T, C)
        dirs = ["fwd", "bwd"] if layer["bidi"] else ["fwd"]
        outs = []
        for bi in range(batch):
            per_dir = []
            for d in dirs:
                seq = seqs[bi]
                rev = d == "bwd" or (d == "fwd" and layer.get("dir") == "r")
                if rev:
                    # a reversed view, not lstm(reverse=True): the kernel
                    # projects the strided view as given, which keeps
                    # this net's bits (reverse=True moves them ~1e-6)
                    seq = seq[::-1]
                if cell == "gru":
                    hs = _gru_dir(
                        seq,
                        self.weights[f"{n}.{d}.wih"],
                        self.weights[f"{n}.{d}.whh"],
                        self.weights[f"{n}.{d}.bih"],
                        self.weights[f"{n}.{d}.bhh"],
                    )
                else:
                    hs = lstm(
                        seq[None], [t],
                        self.weights[f"{n}.{d}.wih"],
                        self.weights[f"{n}.{d}.whh"],
                        self.weights[f"{n}.{d}.b"],
                        None,
                    )[0]
                if layer.get("summarize"):
                    hs = hs[-1:]
                elif rev:
                    hs = hs[::-1]
                per_dir.append(hs)
            outs.append(np.concatenate(per_dir, axis=1))  # (T', H'*dirs)
        out = np.stack(outs, axis=0)  # (B, T', F')
        out = out.transpose(2, 0, 1)  # (F', B, T')
        if over_y:
            out = out.transpose(0, 2, 1)  # back to (F', H', W)
        return np.ascontiguousarray(out)

    # -- serialization ------------------------------------------------------
    def to_bytes(self) -> bytes:
        buf = io.BytesIO()
        meta = {"spec": self.spec, "codec": self.codec}
        np.savez(buf, __meta__=np.frombuffer(json.dumps(meta).encode(), dtype=np.uint8), **self.weights)
        return buf.getvalue()

    @classmethod
    def from_bytes(cls, data: bytes) -> "VGSLModel":
        with np.load(io.BytesIO(data)) as npz:
            meta = json.loads(bytes(npz["__meta__"]).decode())
            weights = {k: npz[k] for k in npz.files if k != "__meta__"}
        return cls(meta["spec"], weights=weights, codec=meta.get("codec", {}))
