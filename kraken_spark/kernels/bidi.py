"""Unicode bidirectional algorithm (UAX#9) — full implementation.

Reimplements (from the published UAX#9 specification) the behavior of the
reference's vendored BiDi module (/root/reference/kraken/lib/bidi/
__init__.py:48-505), which kraken applies to every OCR record to produce
logical/display order (containers.py:547-605): paragraph level resolution
(P2/P3 with isolates), explicit embeddings and overrides (X1-X8), removal
of formatting characters (X9), isolating run sequences (BD13/X10), weak
type rules (W1-W7), paired-bracket rule (N0 with BD14-BD16), neutral rules
(N1-N2), implicit levels (I1-I2), level reset (L1), run reversal (L2) and
character mirroring (L4).

Character classes come from the stdlib ``unicodedata.bidirectional``; the
bracket-pair and mirroring tables below carry the common subset of the
Unicode BidiBrackets.txt / BidiMirroring.txt data files (ASCII, Latin
quotes, CJK corner brackets, mathematical fences) — extend the dicts for
exotic fences.

The convenience wrappers keep the engine's historical API:
``get_display(text, base_dir)`` -> (display_text, order) and
``display_to_logical(visual, base_dir)`` -> (logical_text, perm).
"""

from __future__ import annotations

import unicodedata

MAX_DEPTH = 125
_BRACKET_STACK_LIMIT = 63

_ISOLATE_OPENERS = ("LRI", "RLI", "FSI")
_ISOLATE_ALL = ("LRI", "RLI", "FSI", "PDI")
_REMOVED_BY_X9 = ("RLE", "LRE", "RLO", "LRO", "PDF", "BN")
_NEUTRAL_OR_ISOLATE = ("B", "S", "WS", "ON", "LRI", "RLI", "FSI", "PDI")

# Paired brackets (BD14/BD15): opener -> closer, common BidiBrackets.txt rows
_BRACKET_PAIRS = {
    0x0028: 0x0029,  # ( )
    0x005B: 0x005D,  # [ ]
    0x007B: 0x007D,  # { }
    0x2045: 0x2046,  # ⁅ ⁆
    0x207D: 0x207E,  # ⁽ ⁾
    0x208D: 0x208E,  # ₍ ₎
    0x2308: 0x2309,  # ⌈ ⌉
    0x230A: 0x230B,  # ⌊ ⌋
    0x2329: 0x232A,  # 〈 〉 (canonical equiv of 3008/3009)
    0x2768: 0x2769,
    0x276A: 0x276B,
    0x276C: 0x276D,
    0x276E: 0x276F,
    0x2770: 0x2771,
    0x2772: 0x2773,
    0x2774: 0x2775,
    0x27E6: 0x27E7,  # ⟦ ⟧
    0x27E8: 0x27E9,  # ⟨ ⟩
    0x27EA: 0x27EB,
    0x2983: 0x2984,
    0x2985: 0x2986,
    0x3008: 0x3009,  # 〈 〉
    0x300A: 0x300B,  # 《 》
    0x300C: 0x300D,  # 「 」
    0x300E: 0x300F,  # 『 』
    0x3010: 0x3011,  # 【 】
    0x3014: 0x3015,
    0x3016: 0x3017,
    0x3018: 0x3019,
    0x301A: 0x301B,
    0xFF08: 0xFF09,  # （ ）
    0xFF3B: 0xFF3D,  # ［ ］
    0xFF5B: 0xFF5D,  # ｛ ｝
    0xFF5F: 0xFF60,
    0xFF62: 0xFF63,
}
_BRACKET_CLOSERS = {v: k for k, v in _BRACKET_PAIRS.items()}
# canonical equivalences for bracket matching (BD16 note)
_BRACKET_CANON = {0x2329: 0x3008, 0x232A: 0x3009}

# Mirrored glyph pairs (L4): common BidiMirroring.txt rows, both directions
_MIRROR_ONE_WAY = {
    0x0028: 0x0029, 0x003C: 0x003E, 0x005B: 0x005D, 0x007B: 0x007D,
    0x00AB: 0x00BB, 0x2039: 0x203A, 0x2045: 0x2046, 0x207D: 0x207E,
    0x208D: 0x208E, 0x2308: 0x2309, 0x230A: 0x230B, 0x2329: 0x232A,
    0x27E6: 0x27E7, 0x27E8: 0x27E9, 0x27EA: 0x27EB, 0x2983: 0x2984,
    0x2985: 0x2986, 0x3008: 0x3009, 0x300A: 0x300B, 0x3014: 0x3015,
    0x3016: 0x3017, 0x3018: 0x3019, 0x301A: 0x301B, 0xFF08: 0xFF09,
    0xFF1C: 0xFF1E, 0xFF3B: 0xFF3D, 0xFF5B: 0xFF5D,
}
MIRRORED = dict(_MIRROR_ONE_WAY)
MIRRORED.update({v: k for k, v in _MIRROR_ONE_WAY.items()})


# DerivedBidiClass.txt default-class ranges for unassigned codepoints
# (UAX#9 / UCD header): unassigned in these blocks default to AL / R / ET;
# everything else unassigned defaults to L.  The host unicodedata returns ''
# for unassigned codepoints, so without this fallback newly-assigned Arabic/
# Hebrew-block characters would reorder as neutrals.
_DEFAULT_AL = (
    (0x0600, 0x07BF), (0x0860, 0x08FF), (0xFB50, 0xFDCF), (0xFDF0, 0xFDFF),
    (0xFE70, 0xFEFF), (0x1EC70, 0x1ECBF), (0x1ED00, 0x1ED4F), (0x1EE00, 0x1EEFF),
)
_DEFAULT_R = (
    (0x0590, 0x05FF), (0x07C0, 0x085F), (0xFB1D, 0xFB4F), (0x10800, 0x10CFF),
    (0x10D40, 0x10EBF), (0x10F00, 0x10F2F), (0x10F70, 0x10FFF),
    (0x1E800, 0x1EC6F), (0x1ECC0, 0x1ECFF), (0x1ED50, 0x1EDFF), (0x1EF00, 0x1EFFF),
)
_DEFAULT_ET = ((0x20A0, 0x20CF),)


def bidi_class(cp: int) -> str:
    c = unicodedata.bidirectional(chr(cp))
    if c:
        return c
    for lo, hi in _DEFAULT_AL:
        if lo <= cp <= hi:
            return "AL"
    for lo, hi in _DEFAULT_R:
        if lo <= cp <= hi:
            return "R"
    for lo, hi in _DEFAULT_ET:
        if lo <= cp <= hi:
            return "ET"
    return "L"


def _dir_of(level: int) -> str:
    return "R" if level % 2 else "L"


def _pair_isolates(types: list[str]) -> tuple[dict[int, int | None], set[int]]:
    """BD9: initiator index -> matching PDI index (None if unmatched)."""
    opens: list[int] = []
    match: dict[int, int | None] = {}
    matched_pdis: set[int] = set()
    for i, t in enumerate(types):
        if t in _ISOLATE_OPENERS:
            opens.append(i)
            match[i] = None
        elif t == "PDI" and opens:
            j = opens.pop()
            match[j] = i
            matched_pdis.add(i)
    return match, matched_pdis


def _first_strong(types: list[str], start: int, end: int, isolate_match: dict[int, int | None]) -> int:
    """P2/P3 (and X5c): first strong type in [start, end), skipping isolate
    scopes; 1 for R/AL else 0."""
    i = start
    while i < end:
        t = types[i]
        if t in ("R", "AL"):
            return 1
        if t == "L":
            return 0
        if t in _ISOLATE_OPENERS:
            pdi = isolate_match.get(i)
            i = (pdi if pdi is not None else end) + 1
            continue
        i += 1
    return 0


def _explicit_pass(
    types: list[str],
    wtypes: list[str],
    isolate_match: dict[int, int | None],
    para_level: int,
) -> list[int | None]:
    """X1-X9: explicit embedding levels; None marks removed characters."""
    levels: list[int | None] = [None] * len(types)
    # stack entries: (embedding level, override 'L'/'R'/None, is_isolate)
    stack: list[tuple[int, str | None, bool]] = [(para_level, None, False)]
    overflow_iso = 0
    overflow_emb = 0
    valid_iso = 0

    def next_level(odd: bool) -> int:
        cur = stack[-1][0]
        return (cur + 1) | 1 if odd else (cur + 2) & ~1

    for i, t in enumerate(types):
        if t in ("RLE", "LRE", "RLO", "LRO"):
            lvl = next_level(t[0] == "R")
            if lvl <= MAX_DEPTH and overflow_iso == 0 and overflow_emb == 0:
                stack.append((lvl, t[0] if t.endswith("O") else None, False))
            elif overflow_iso == 0:
                overflow_emb += 1
            continue  # removed by X9 (level stays None)
        if t in _ISOLATE_OPENERS:
            rtl = t == "RLI" or (
                t == "FSI"
                and _first_strong(
                    types, i + 1, isolate_match.get(i) if isolate_match.get(i) is not None else len(types), isolate_match
                )
                == 1
            )
            # the initiator itself takes the current level/override (X5a-c)
            levels[i] = stack[-1][0]
            if stack[-1][1]:
                wtypes[i] = stack[-1][1]
            lvl = next_level(rtl)
            if lvl <= MAX_DEPTH and overflow_iso == 0 and overflow_emb == 0:
                valid_iso += 1
                stack.append((lvl, None, True))
            else:
                overflow_iso += 1
            continue
        if t == "PDI":
            if overflow_iso > 0:
                overflow_iso -= 1
            elif valid_iso > 0:
                overflow_emb = 0
                while not stack[-1][2]:
                    stack.pop()
                stack.pop()
                valid_iso -= 1
            levels[i] = stack[-1][0]
            if stack[-1][1]:
                wtypes[i] = stack[-1][1]
            continue
        if t == "PDF":
            if overflow_iso > 0:
                pass
            elif overflow_emb > 0:
                overflow_emb -= 1
            elif not stack[-1][2] and len(stack) > 1:
                stack.pop()
            continue  # removed by X9
        if t == "B":
            levels[i] = para_level
            continue
        if t == "BN":
            continue  # removed by X9
        levels[i] = stack[-1][0]
        if stack[-1][1]:
            wtypes[i] = stack[-1][1]
    return levels


def _run_sequences(
    types: list[str],
    levels: list[int | None],
    keep: list[int],
    isolate_match: dict[int, int | None],
    matched_pdis: set[int],
    para_level: int,
):
    """BD13 + X10: isolating run sequences with their sos/eos types."""
    # level runs over surviving characters
    runs: list[list[int]] = []
    for idx in keep:
        if runs and levels[runs[-1][-1]] == levels[idx]:
            runs[-1].append(idx)
        else:
            runs.append([idx])
    used = set()
    run_of_first = {r[0]: k for k, r in enumerate(runs)}
    sequences: list[list[int]] = []
    for k, run in enumerate(runs):
        if k in used:
            continue
        if types[run[0]] == "PDI" and run[0] in matched_pdis:
            continue  # joined to its initiator's sequence
        seq = list(run)
        used.add(k)
        while True:
            last = seq[-1]
            if types[last] in _ISOLATE_OPENERS and isolate_match.get(last) is not None:
                pdi = isolate_match[last]
                nk = run_of_first.get(pdi)
                if nk is not None and nk not in used:
                    seq.extend(runs[nk])
                    used.add(nk)
                    continue
            break
        sequences.append(seq)

    pos_in_keep = {idx: n for n, idx in enumerate(keep)}
    out = []
    for seq in sequences:
        lvl = levels[seq[0]]
        p = pos_in_keep[seq[0]]
        prev_lvl = levels[keep[p - 1]] if p > 0 else para_level
        sos = _dir_of(max(lvl, prev_lvl))
        last = seq[-1]
        p = pos_in_keep[last]
        if types[last] in _ISOLATE_OPENERS and isolate_match.get(last) is None:
            nxt_lvl = para_level  # unmatched initiator: eos from para level
        else:
            nxt_lvl = levels[keep[p + 1]] if p + 1 < len(keep) else para_level
        eos = _dir_of(max(levels[last], nxt_lvl))
        out.append((seq, sos, eos))
    return out


def _weak_pass(seq: list[int], sos: str, eos: str, wtypes: list[str]) -> None:
    """W1-W7 over one isolating run sequence."""
    # W1: NSM takes the type of the previous character (sos at start);
    # after an isolate initiator or PDI it becomes ON
    prev = sos
    for i in seq:
        if wtypes[i] == "NSM":
            wtypes[i] = "ON" if prev in _ISOLATE_ALL else prev
        prev = wtypes[i]
    # W2: EN -> AN when the last strong type is AL
    strong = sos
    for i in seq:
        t = wtypes[i]
        if t in ("L", "R", "AL"):
            strong = t
        elif t == "EN" and strong == "AL":
            wtypes[i] = "AN"
    # W3: AL -> R
    for i in seq:
        if wtypes[i] == "AL":
            wtypes[i] = "R"
    # W4: single ES between EN pair -> EN; single CS between same-type
    # number pair -> that type
    for n in range(1, len(seq) - 1):
        t = wtypes[seq[n]]
        a, b = wtypes[seq[n - 1]], wtypes[seq[n + 1]]
        if t == "ES" and a == "EN" and b == "EN":
            wtypes[seq[n]] = "EN"
        elif t == "CS" and a == b and a in ("EN", "AN"):
            wtypes[seq[n]] = a
    # W5: ET runs adjacent to EN -> EN
    n = 0
    while n < len(seq):
        if wtypes[seq[n]] == "ET":
            j = n
            while j < len(seq) and wtypes[seq[j]] == "ET":
                j += 1
            before = wtypes[seq[n - 1]] if n > 0 else sos
            after = wtypes[seq[j]] if j < len(seq) else eos
            if before == "EN" or after == "EN":
                for m in range(n, j):
                    wtypes[seq[m]] = "EN"
            n = j
        else:
            n += 1
    # W6: remaining separators/terminators -> ON
    for i in seq:
        if wtypes[i] in ("ET", "ES", "CS"):
            wtypes[i] = "ON"
    # W7: EN -> L when the last strong type is L
    strong = sos
    for i in seq:
        t = wtypes[i]
        if t in ("L", "R"):
            strong = t
        elif t == "EN" and strong == "L":
            wtypes[i] = "L"


def _n0_strength(t: str) -> str | None:
    if t == "L":
        return "L"
    if t in ("R", "EN", "AN"):
        return "R"
    return None


def _bracket_pass(
    seq: list[int], sos: str, types: list[str], wtypes: list[str], cps: list[int], edir: str
) -> None:
    """N0 with BD14-BD16: resolve paired brackets."""
    stack: list[tuple[int, int]] = []  # (canonical opener cp, position-in-seq)
    pairs: list[tuple[int, int]] = []
    for n, i in enumerate(seq):
        if wtypes[i] != "ON":
            continue
        cp = cps[i]
        if cp in _BRACKET_PAIRS:
            if len(stack) >= _BRACKET_STACK_LIMIT:
                break  # BD16: stop *finding* pairs, but resolve those collected
            stack.append((_BRACKET_CANON.get(cp, cp), n))
        elif cp in _BRACKET_CLOSERS:
            want = _BRACKET_CANON.get(_BRACKET_CLOSERS[cp], _BRACKET_CLOSERS[cp])
            for d in range(len(stack) - 1, -1, -1):
                if stack[d][0] == want:
                    pairs.append((stack[d][1], n))
                    del stack[d:]
                    break
    pairs.sort()
    for no, nc in pairs:
        inside = None
        for m in range(no + 1, nc):
            s = _n0_strength(wtypes[seq[m]])
            if s == edir:
                inside = edir
                break
            if s is not None:
                inside = s  # opposite found; keep scanning for edir
        if inside is None:
            continue  # N0 c: no strong type inside — leave as neutral
        if inside != edir:
            # opposite strong inside: direction from preceding context
            ctx = sos
            for m in range(no - 1, -1, -1):
                s = _n0_strength(wtypes[seq[m]])
                if s is not None:
                    ctx = s
                    break
            new = inside if ctx == inside else edir
        else:
            new = edir
        wtypes[seq[no]] = new
        wtypes[seq[nc]] = new
        # trailing NSMs of a resolved bracket take its type
        for nn in (no, nc):
            for m in range(nn + 1, len(seq)):
                if types[seq[m]] == "NSM":
                    wtypes[seq[m]] = new
                else:
                    break


def _neutral_pass(seq: list[int], sos: str, eos: str, wtypes: list[str], edir: str) -> None:
    """N1/N2: neutral and isolate formatting characters."""
    n = 0
    while n < len(seq):
        if wtypes[seq[n]] in _NEUTRAL_OR_ISOLATE:
            j = n
            while j < len(seq) and wtypes[seq[j]] in _NEUTRAL_OR_ISOLATE:
                j += 1
            before = wtypes[seq[n - 1]] if n > 0 else sos
            after = wtypes[seq[j]] if j < len(seq) else eos
            if before in ("EN", "AN"):
                before = "R"
            if after in ("EN", "AN"):
                after = "R"
            fill = before if before == after else edir
            for m in range(n, j):
                wtypes[seq[m]] = fill
            n = j
        else:
            n += 1


def resolve_paragraph(
    types: list[str], cps: list[int] | None, para_level: int
) -> tuple[list[int | None], list[int]]:
    """X1 through L2 for one paragraph. Returns (levels, visual order of
    surviving indices); level None = removed by X9."""
    wtypes = list(types)
    isolate_match, matched_pdis = _pair_isolates(types)
    levels = _explicit_pass(types, wtypes, isolate_match, para_level)
    keep = [i for i, lv in enumerate(levels) if lv is not None]

    for seq, sos, eos in _run_sequences(types, levels, keep, isolate_match, matched_pdis, para_level):
        edir = _dir_of(levels[seq[0]])
        _weak_pass(seq, sos, eos, wtypes)
        if cps is not None:
            _bracket_pass(seq, sos, types, wtypes, cps, edir)
        _neutral_pass(seq, sos, eos, wtypes, edir)

    # I1/I2
    for i in keep:
        if levels[i] % 2:
            if wtypes[i] != "R":
                levels[i] += 1
        else:
            if wtypes[i] == "R":
                levels[i] += 1
            elif wtypes[i] in ("EN", "AN"):
                levels[i] += 2

    # L1 (original types)
    resetting = True
    for i in reversed(keep):
        if types[i] in ("B", "S"):
            levels[i] = para_level
            resetting = True
        elif types[i] in ("WS",) + tuple(_ISOLATE_ALL):
            if resetting:
                levels[i] = para_level
        else:
            resetting = False

    # L2
    visual = list(keep)
    if visual:
        lvls = [levels[i] for i in visual]
        odd = [lv for lv in lvls if lv % 2]
        if odd:
            for level in range(max(lvls), min(odd) - 1, -1):
                n = 0
                while n < len(visual):
                    if levels[visual[n]] >= level:
                        j = n
                        while j < len(visual) and levels[visual[j]] >= level:
                            j += 1
                        visual[n:j] = visual[n:j][::-1]
                        n = j
                    else:
                        n += 1
    return levels, visual


def auto_base_dir(text: str) -> str:
    """P2/P3 over the whole text (isolate-aware)."""
    types = [bidi_class(ord(c)) for c in text]
    match, _ = _pair_isolates(types)
    return "R" if _first_strong(types, 0, len(types), match) else "L"


def get_display(text: str, base_dir: str | None = None) -> tuple[str, list[int]]:
    """Logical -> display reorder (the reference's get_display_map,
    lib/bidi/__init__.py:461-505): returns (display_text, order) with
    display[i] = text[order[i]]; formatting characters are removed and
    mirrored glyphs on odd levels replaced (L4)."""
    cps = [ord(c) for c in text]
    types = [bidi_class(cp) for cp in cps]
    if base_dir in ("L", "R"):
        para_level = 0 if base_dir == "L" else 1
    else:
        match, _ = _pair_isolates(types)
        para_level = _first_strong(types, 0, len(types), match)
    levels, visual = resolve_paragraph(types, cps, para_level)
    display = []
    order = []
    for i in visual:
        if types[i] in _ISOLATE_ALL:
            continue
        cp = cps[i]
        if levels[i] % 2 and cp in MIRRORED:
            cp = MIRRORED[cp]
        display.append(chr(cp))
        order.append(i)
    return "".join(display), order


def display_to_logical(visual: str, base_dir: str = "L") -> tuple[str, list[int]]:
    """Reorder a display-order (visual) string to logical order — the
    engine's recognizer emits display order; kraken's records apply the
    forward transform for the same purpose (logical_order,
    containers.py:547-561). Mirrors are inverted back on odd levels.
    Returns (logical_text, perm) with logical[k] = visual[perm[k]]."""
    cps = [ord(c) for c in visual]
    types = [bidi_class(cp) for cp in cps]
    para_level = 0 if base_dir == "L" else 1
    levels, order = resolve_paragraph(types, cps, para_level)
    logical = []
    perm = []
    for i in order:
        cp = cps[i]
        lv = levels[i] if levels[i] is not None else para_level
        if lv % 2 and cp in MIRRORED:
            cp = MIRRORED[cp]
        logical.append(chr(cp))
        perm.append(i)
    return "".join(logical), perm
