"""Deterministic procedural glyph font + recognition templates.

The reference ships trained recognizer weights as test fixtures
(/root/reference/tests/resources/overfit*.{mlmodel,safetensors}) that are LFS
stubs in this snapshot, so — per FIXTURES.md §4 — this engine renders its
synthetic corpus with a *procedural* bitmap font whose glyphs double as exact
matched-filter templates for the deterministic VGSL recognizer. Every glyph is
derived from sha256, so corpus and model are reproducible from the code alone.

Geometry contract (all downstream stages rely on it):

  * glyph bitmap: 8x8 bits. Row 0 cols 0-6 = top bar, col 0 rows 0-6 = left
    bar (present in EVERY glyph so a line's ink bounding box is exactly
    cell-aligned); rows/cols 7 always blank (inter-glyph gap); body bits
    (rows 1-6 x cols 1-6) come from sha256("kraken-spark-glyph:<salt>:<cp>").
  * rendered at SCALE=2: ink box is 14x14 px inside a CELL_W=32 px advance
    (16 px glyph + 16 px gap) and LINE_PITCH=24 px (14 px ink + 10 px lead).
  * a line of n glyphs therefore has an ink bbox of exactly
    width = 32*(n-1)+14, height = 14, with glyph k starting at x = 32*k.

The gap of a single space cell inside a line is 32*2-14 = 50 px, strictly
below the 64 px column-separator threshold used by the segmenter, so spaces
can never be mistaken for column gutters (the corpus generator never emits
consecutive spaces).

Alphabet: printable ASCII 0x21-0x7E (94 glyphs) + Arabic letters
0x0627-0x064A (36 codepoints incl. waw/yeh range) for RTL/BiDi coverage.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np

GLYPH_SALT = 1  # bump if the pairwise-distinctness test ever fails
SCALE = 2
CELL_W = 32  # x-advance per character cell, px
GLYPH_W = 14  # ink width, px
GLYPH_H = 14  # ink height, px
LINE_PITCH = 24  # baseline-to-baseline distance, px

ASCII_CPS = list(range(0x21, 0x7F))  # '!'..'~' (space handled geometrically)
ARABIC_CPS = list(range(0x0627, 0x064B))  # alef..yeh
ALPHABET = ASCII_CPS + ARABIC_CPS  # label i+1 <-> ALPHABET[i]; label 0 = blank


@lru_cache(maxsize=None)
def glyph_bitmap(cp: int) -> np.ndarray:
    """8x8 uint8 bitmap for a codepoint (1 = ink)."""
    bm = np.zeros((8, 8), dtype=np.uint8)
    bm[0, 0:7] = 1  # top bar
    bm[0:7, 0] = 1  # left bar
    digest = hashlib.sha256(
        f"kraken-spark-glyph:{GLYPH_SALT}:{cp}".encode()
    ).digest()
    bits = np.unpackbits(np.frombuffer(digest, dtype=np.uint8))
    bm[1:7, 1:7] = bits[:36].reshape(6, 6)
    return bm


@lru_cache(maxsize=None)
def glyph_ink(cp: int) -> np.ndarray:
    """GLYPH_H x GLYPH_W uint8 ink mask at render scale (1 = ink)."""
    return np.kron(glyph_bitmap(cp)[0:7, 0:7], np.ones((SCALE, SCALE), np.uint8))


@lru_cache(maxsize=1)
def templates() -> np.ndarray:
    """(num_classes, GLYPH_H, GLYPH_W) float32 matched-filter bank.

    Class 0 is the CTC blank, whose template is all-background; class i>0 is
    ALPHABET[i-1]. Templates use +/-1 coding (ink=+1, bg=-1): on a +/-1-coded
    window W, logit_c = sum(T_c * W) = area - 2*Hamming(T_c, W), so the true
    class wins by an exact integer margin (>=2) over every other class, and
    blank wins on any all-background window.
    """
    bank = np.empty((1 + len(ALPHABET), GLYPH_H, GLYPH_W), dtype=np.float32)
    bank[0] = -1.0
    for i, cp in enumerate(ALPHABET):
        bank[i + 1] = glyph_ink(cp).astype(np.float32) * 2.0 - 1.0
    return bank
