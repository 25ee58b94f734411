"""Forced alignment: CTC trellis Viterbi alignment of known text to a line.

Reimplements the semantics of the reference's forced_align
(/root/reference/kraken/align.py:42-85): encode the ground-truth text with
the model codec, build the CTC trellis over the network's per-frame label
posteriors (get_trellis, align.py:118-139), backtrack the best path
(align.py:142-175), merge repeated frames per label (align.py:178-194), and
emit a recognition-record-like dict with per-character geometry.

Spaces carry no label in the engine's codec (word spacing is geometric,
kernels/recognizer.py) — space characters are skipped during alignment and
re-inserted with cell geometry afterwards, mirroring recognition output.
"""

from __future__ import annotations

import numpy as np

from .codec import Codec
from .glyphs import CELL_W, GLYPH_W
from .layers import log_softmax
from .recognizer import FRAME_STRIDE, input_transform
from .vgsl import VGSLModel


def ctc_viterbi_align(logits: np.ndarray, labels: list[int], blank: int = 0):
    """Best CTC path for the given label sequence.

    logits: (T, C); labels: L non-blank label ids. Returns list of
    (label, start_frame, end_frame_exclusive, mean_prob) per label, or None
    if the sequence is not alignable (T < required frames).
    """
    T = logits.shape[0]
    L = len(labels)
    if L == 0 or T < L:
        return None
    logp = log_softmax(logits.astype(np.float64))
    S = 2 * L + 1
    lab = np.empty(S, dtype=np.int64)
    lab[0::2] = blank
    lab[1::2] = labels
    NEG = -1e30
    dp = np.full((T, S), NEG)
    bp = np.zeros((T, S), dtype=np.int8)  # 0=stay, 1=from s-1, 2=from s-2
    dp[0, 0] = logp[0, blank]
    dp[0, 1] = logp[0, lab[1]]
    for t in range(1, T):
        prev = dp[t - 1]
        stay = prev
        diag = np.concatenate([[NEG], prev[:-1]])
        skip = np.concatenate([[NEG, NEG], prev[:-2]])
        # skip allowed only into non-blank states whose label differs from s-2
        skip_ok = np.zeros(S, dtype=bool)
        skip_ok[2:] = (lab[2:] != blank) & (lab[2:] != lab[:-2])
        skip = np.where(skip_ok, skip, NEG)
        best = np.maximum(np.maximum(stay, diag), skip)
        bp[t] = np.where(skip == best, 2, np.where(diag == best, 1, 0))
        dp[t] = best + logp[t, lab]
    # end in last blank or last label
    s = S - 1 if dp[T - 1, S - 1] >= dp[T - 1, S - 2] else S - 2
    if dp[T - 1, s] <= NEG / 2:
        return None
    # backtrack
    path = np.empty(T, dtype=np.int64)
    for t in range(T - 1, -1, -1):
        path[t] = s
        s -= bp[t, s]
    probs = np.exp(logp)
    out = []
    for li in range(L):
        st = 2 * li + 1
        frames = np.nonzero(path == st)[0]
        if len(frames) == 0:
            return None
        p = float(probs[frames, labels[li]].mean())
        out.append((labels[li], int(frames[0]), int(frames[-1]) + 1, p))
    return out


def forced_align(
    model: VGSLModel, codec: Codec, strip: np.ndarray, text: str
) -> dict | None:
    """Align `text` (visual order, may contain spaces) to a line strip.

    Returns a record dict {prediction, cuts, confidences, display_order}
    shaped like recognition output (SURVEY.md §2.7 forced alignment row),
    or None when unalignable (reference raises; we return None so Spark
    rows degrade to a flagged miss instead of a task failure)."""
    if strip.size == 0 or strip.shape[1] < GLYPH_W:
        return None
    # encode non-space characters; remember original positions
    positions = [i for i, ch in enumerate(text) if not ch.isspace()]
    squeezed = "".join(text[i] for i in positions)
    try:
        labels = codec.encode(squeezed)
    except (KeyError, ValueError):
        return None
    if len(labels) != len(positions):  # multi-label codes: geometry ambiguous
        return None
    acts = model.forward(input_transform(strip))
    ali = ctc_viterbi_align(acts, list(labels))
    if ali is None:
        return None
    # label frames -> cell geometry (same mapping as recognition decode)
    cuts_by_pos: dict[int, list[int]] = {}
    confs_by_pos: dict[int, float] = {}
    for (label, f0, _f1, p), pos in zip(ali, positions):
        cell = round(f0 * FRAME_STRIDE / CELL_W)
        cuts_by_pos[pos] = [cell * CELL_W, cell * CELL_W + GLYPH_W]
        confs_by_pos[pos] = p
    cuts: list[list[int]] = []
    confs: list[float] = []
    for i, ch in enumerate(text):
        if i in cuts_by_pos:
            cuts.append(cuts_by_pos[i])
            confs.append(confs_by_pos[i])
        else:
            # space: midpoint cell between neighbors (geometric spacing)
            left = cuts[-1][0] // CELL_W if cuts else -1
            g = left + 1
            cuts.append([g * CELL_W, g * CELL_W + GLYPH_W])
            confs.append(1.0)
    return {
        "prediction": text,
        "cuts": cuts,
        "confidences": confs,
        "display_order": True,
    }
