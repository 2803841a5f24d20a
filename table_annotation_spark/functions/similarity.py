"""Fuzzy string similarity — deterministic reimplementation of the rapidfuzz
ratios the reference relies on.

Reference semantics (cited for parity; no code is copied):
- ``fuzz.ratio``            → indel-normalized similarity
  (/root/reference/lookup/es_lookup.py:129-137).
- ``fuzz.token_sort_ratio`` → ratio over whitespace-sorted tokens.
- ``fuzz.token_set_ratio``  → fuzzywuzzy set algebra on token sets.
- ``fuzz.partial_ratio``    → best-window ratio of shorter vs longer.
- ``textual_similarity``    → mean of top-2 of {ratio, token_sort, token_set}
  on lowercased inputs (/root/reference/annotation/annot_scripts/utils.py:65-76).

All ratios returned in [0, 1] (the reference divides rapidfuzz's 0-100 by
100 at use sites).

Performance: the LCS core is the bit-parallel algorithm (Crochemore,
Iliopoulos, Pinzon & Reid 2001, "A fast and practical bit-vector algorithm
for the LCS problem") on Python big ints — each text character costs O(1)
bigint ops for patterns ≤ machine-word width instead of an O(|pattern|)
interpreted inner loop, a measured ~10-40× over the classic row DP at
lookup string lengths. Exactness is pinned against the reference row DP by
``tests/test_functions.py`` (hypothesis). ``lookup_fuzzy_pexact`` adds a
sound character-multiset upper bound that skips all DP work for candidate
pairs provably below the lookup survival floor — on real corpora the
majority of blocked pairs resolve without a single DP. On a real cluster,
``rapidfuzz.process.cdist`` can be swapped in behind the same signatures
(rapidfuzz is not installed in this environment).
"""

from __future__ import annotations

from collections import Counter
from functools import lru_cache

# ------------------------------------------------------------------ LCS core


@lru_cache(maxsize=1 << 17)
def _char_masks(s: str) -> dict:
    """Per-character position bitmasks of ``s`` (the bit-parallel pattern
    preprocessing). Cached — mentions and labels repeat heavily across the
    candidate-pair stream, so most calls are dict lookups."""
    d: dict[str, int] = {}
    for i, ch in enumerate(s):
        d[ch] = d.get(ch, 0) | (1 << i)
    return d


def lcs_len(a: str, b: str) -> int:
    """Length of the longest common subsequence, bit-parallel."""
    if len(a) > len(b):
        a, b = b, a
    la = len(a)
    if la == 0:
        return 0
    masks = _char_masks(a)
    width = (1 << la) - 1
    v = width
    for ch in b:
        m = masks.get(ch, 0)
        u = v & m
        v = ((v + u) | (v & ~m)) & width
    return la - bin(v).count("1")


def _indel_distance(a: str, b: str) -> int:
    """Indel (insert/delete only) edit distance == len(a)+len(b)-2*LCS."""
    if a == b:
        return 0
    if not a or not b:
        return len(a) + len(b)
    return len(a) + len(b) - 2 * lcs_len(a, b)


def _indel_distance_refdp(a: str, b: str) -> int:
    """Reference row-DP indel distance — kept ONLY as the exactness oracle
    for the bit-parallel core (tests/test_functions.py); never on a hot
    path."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return la + lb
    if la > lb:
        a, b, la, lb = b, a, lb, la
    prev = [0] * (la + 1)
    for ch_b in b:
        cur = [0] * (la + 1)
        for i, ch_a in enumerate(a):
            if ch_a == ch_b:
                cur[i + 1] = prev[i] + 1
            else:
                cur[i + 1] = cur[i] if cur[i] >= prev[i + 1] else prev[i + 1]
        prev = cur
    lcs = prev[la]
    return la + lb - 2 * lcs


@lru_cache(maxsize=1 << 17)
def ratio(a: str, b: str) -> float:
    """Normalized indel similarity in [0,1] (rapidfuzz.fuzz.ratio/100).

    Memoized: one scored pair evaluates the SAME (a, b) ratio up to three
    times — directly, via ``token_sort_ratio`` (identity for single-token
    strings, the dominant lookup shape), and via ``token_set_ratio``'s
    disjoint-set branch (sa=a, sb=b) — so the cache removes 2 of 3 identical
    bit-parallel DPs per pair without touching any value."""
    total = len(a) + len(b)
    if total == 0:
        return 1.0
    return (total - _indel_distance(a, b)) / total


@lru_cache(maxsize=1 << 17)
def _sorted_tokens(s: str) -> str:
    return " ".join(sorted(s.split()))


def token_sort_ratio(a: str, b: str) -> float:
    return ratio(_sorted_tokens(a), _sorted_tokens(b))


def token_set_ratio(a: str, b: str) -> float:
    """fuzzywuzzy token_set algebra: compare sorted-intersection against each
    full sorted-union side, take the max."""
    ta, tb = set(a.split()), set(b.split())
    if not ta and not tb:
        return 1.0
    inter = " ".join(sorted(ta & tb))
    sa = (inter + " " + " ".join(sorted(ta - tb))).strip()
    sb = (inter + " " + " ".join(sorted(tb - ta))).strip()
    return max(ratio(inter, sa), ratio(inter, sb), ratio(sa, sb))


@lru_cache(maxsize=1 << 17)
def _counter(s: str) -> Counter:
    return Counter(s)


def _common_chars(a: str, b: str) -> int:
    """Character-multiset intersection size — an upper bound on LCS(a, b)
    under ANY reordering of either side (so it bounds ratio AND
    token_sort_ratio at once when whitespace is single-space canonical)."""
    ca, cb = _counter(a), _counter(b)
    if len(cb) < len(ca):
        ca, cb = cb, ca
    return sum(min(n, cb[ch]) for ch, n in ca.items() if ch in cb)


def partial_ratio(a: str, b: str) -> float:
    """Best ratio of the shorter string against any equal-length window of
    the longer one (sliding alignment, step 1).

    Windows are pre-screened with a rolling character-count bound: a window
    sharing c characters with ``a`` (as multisets) has LCS ≤ c, so windows
    with c/|a| below the current best can't improve it and skip the DP."""
    if len(a) > len(b):
        a, b = b, a
    la, lb = len(a), len(b)
    if la == 0:
        return 1.0 if lb == 0 else 0.0
    if la == lb:
        return ratio(a, b)
    ca = _counter(a)
    masks = _char_masks(a)
    width = (1 << la) - 1
    # rolling multiset-overlap between a and the current window of b
    win = Counter(b[:la])
    common = sum(min(n, win[ch]) for ch, n in ca.items() if ch in win)
    best = 0.0
    for start in range(lb - la + 1):
        if start > 0:
            out_ch, in_ch = b[start - 1], b[start + la - 1]
            if out_ch != in_ch:
                if win[out_ch] <= ca.get(out_ch, 0):
                    common -= 1
                win[out_ch] -= 1
                win[in_ch] += 1
                if win[in_ch] <= ca.get(in_ch, 0):
                    common += 1
        if common / la > best:
            v = width
            for ch in b[start : start + la]:
                m = masks.get(ch, 0)
                u = v & m
                v = ((v + u) | (v & ~m)) & width
            lcs = la - bin(v).count("1")
            r = lcs / la  # ratio over equal-length windows: 2*lcs/(2*la)
            if r > best:
                best = r
                if best >= 1.0:
                    break
    return best


@lru_cache(maxsize=262144)
def textual_similarity(s1: str, s2: str) -> float:
    """Mean of the top-2 of {ratio, token_sort_ratio, token_set_ratio} on
    lowercased inputs — reference annotation/annot_scripts/utils.py:65-76."""
    a, b = s1.lower(), s2.lower()
    scores = sorted(
        (ratio(a, b), token_sort_ratio(a, b), token_set_ratio(a, b)),
        reverse=True,
    )
    return (scores[0] + scores[1]) / 2.0


def mixed_fuzzy_score(mention: str, label: str) -> float:
    """The reference's per-hit fuzzy score (lookup/es_lookup.py:123-174):

    For each of {ratio, token_sort_ratio, token_set_ratio}:
        0.9 * f(lower(mention), lower(label)) + 0.1 * f(mention, label)
    token_set only participates when 0.5 < len(mention)/len(label) < 2.
    Final fuzzy = mean of the top-2 participating scores.
    """
    ml, ll = mention.lower(), label.lower()
    if ml == mention and ll == label:
        # already-lowercased inputs (the lookup pipeline): mixed == plain
        scores = [ratio(ml, ll), token_sort_ratio(ml, ll)]
        if label and 0.5 < (len(mention) / max(len(label), 1)) < 2:
            scores.append(token_set_ratio(ml, ll))
    else:
        scores = [
            0.9 * ratio(ml, ll) + 0.1 * ratio(mention, label),
            0.9 * token_sort_ratio(ml, ll) + 0.1 * token_sort_ratio(mention, label),
        ]
        if label and 0.5 < (len(mention) / max(len(label), 1)) < 2:
            scores.append(
                0.9 * token_set_ratio(ml, ll) + 0.1 * token_set_ratio(mention, label)
            )
    scores.sort(reverse=True)
    top2 = scores[:2]
    return sum(top2) / len(top2)


def is_partial_exact(mention: str, label: str) -> bool:
    """Reference partial-exact bypass (es_lookup.py:140-148): mixed
    0.9·lower + 0.1·raw partial ratio with small token-count difference, or
    mixed token_set ratio — the latter only when the two labels have similar
    lengths (0.5 < len(mention)/len(label) < 2.0), since token_set is noisy
    on dissimilar lengths."""
    ml, ll = mention.lower(), label.lower()
    token_diff = abs(len(ml.split()) - len(ll.split()))
    if token_diff <= 2:
        if ml == mention and ll == label:
            partial_mixed = partial_ratio(ml, ll)
        else:
            partial_mixed = 0.9 * partial_ratio(ml, ll) + 0.1 * partial_ratio(
                mention, label
            )
        if partial_mixed > 0.9:
            return True
    if ll and 0.5 < len(ml) / len(ll) < 2.0:
        if ml == mention and ll == label:
            ts_mixed = token_set_ratio(ml, ll)
        else:
            ts_mixed = (
                0.9 * token_set_ratio(ml, ll) + 0.1 * token_set_ratio(mention, label)
            )
        return ts_mixed > 0.9
    return False


def _popcount64(v):
    """Vectorized SWAR popcount over a uint64 ndarray."""
    import numpy as np

    v = v - ((v >> np.uint64(1)) & np.uint64(0x5555555555555555))
    v = (v & np.uint64(0x3333333333333333)) + (
        (v >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    v = (v + (v >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (v * np.uint64(0x0101010101010101)) >> np.uint64(56)


def fuzzy_pexact_batch(mentions, labels, min_fuzzy: float = 0.70):
    """Batch (mixed_fuzzy_score, is_partial_exact) — the vectorized twin of
    ``lookup_fuzzy_pexact`` for the lookup UDF (guide-§4.2 shape: the Python
    boundary hands whole Arrow batches to NumPy instead of looping rows).

    Rows where BOTH sides are non-empty single-token ASCII strings ≤63 chars
    (the dominant lookup shape) run the bit-parallel LCS on uint64 lanes:
    per-row char→position-mask matrices, one vectorized mask update per text
    position, SWAR popcount — identical integer LCS, identical float
    formulas evaluated in binary64, so every returned (fuzzy, pexact) is
    BIT-EQUAL to the scalar kernel's (pinned by tests). Everything else —
    multi-token, >63 chars, non-ASCII, empty, equal — falls back to the
    scalar ``lookup_fuzzy_pexact`` row by row. The one scalar escape inside
    the vector path is ``pr_gate`` rows with unequal lengths, whose
    partial_ratio needs the sliding window (rare: the gate demands >90 %
    multiset containment of the shorter side)."""
    import numpy as np

    n = len(mentions)
    fuzzy = np.empty(n, dtype=np.float64)
    pexact = np.zeros(n, dtype=bool)
    idx: list[int] = []
    ms: list[bytes] = []
    ls: list[bytes] = []
    for i in range(n):
        m = mentions[i] or ""
        lb = labels[i] or ""
        if (
            m != lb
            and m
            and lb
            and len(m) <= 63
            and len(lb) <= 63
            and " " not in m
            and " " not in lb
            and m.isascii()
            and lb.isascii()
        ):
            idx.append(i)
            ms.append(m.encode())
            ls.append(lb.encode())
        else:
            fuzzy[i], pexact[i] = lookup_fuzzy_pexact(m, lb, min_fuzzy)
    if not idx:
        return fuzzy, pexact

    k = len(idx)
    lm = np.fromiter((len(b) for b in ms), dtype=np.int64, count=k)
    ll = np.fromiter((len(b) for b in ls), dtype=np.int64, count=k)

    # char histograms (ASCII ⇒ 128 lanes; lengths ≤63 fit uint8)
    max_m, max_l = int(lm.max()), int(ll.max())
    mmat = np.frombuffer(
        b"".join(b.ljust(max_m, b"\x00") for b in ms), dtype=np.uint8
    ).reshape(k, max_m)
    lmat = np.frombuffer(
        b"".join(b.ljust(max_l, b"\x00") for b in ls), dtype=np.uint8
    ).reshape(k, max_l)
    rows = np.arange(k)
    hm = np.zeros((k, 128), dtype=np.uint8)
    hl = np.zeros((k, 128), dtype=np.uint8)
    # within one column each row index appears once, so plain fancy += is a
    # safe (and faster) scatter than ufunc.at
    for j in range(max_m):
        col = mmat[:, j]
        v = col != 0
        hm[rows[v], col[v]] += 1
    for j in range(max_l):
        col = lmat[:, j]
        v = col != 0
        hl[rows[v], col[v]] += 1
    # multiset intersection size; lane 0 (padding) is zero in both
    c = np.minimum(hm, hl).sum(axis=1).astype(np.int64)

    total = lm + ll
    ub = 2.0 * c / total
    lmin = np.minimum(lm, ll)
    pr_gate = np.minimum(c, lmin) / lmin > 0.9
    ratio_q = lm / ll
    participate = (0.5 < ratio_q) & (ratio_q < 2.0)
    below = ub < min_fuzzy
    eq_len = lm == ll

    # pr_gate with unequal lengths needs the true sliding partial_ratio —
    # scalar fallback for the whole row (keeps this path exact)
    scalar_rows = pr_gate & ~eq_len
    # ratio needed when the pair can survive, or when the equal-length
    # partial check (partial == ratio there) must run
    need_r = (~below | (pr_gate & eq_len)) & ~scalar_rows

    r = np.zeros(k, dtype=np.float64)
    if need_r.any():
        sub = np.flatnonzero(need_r)
        ks = len(sub)
        wdt = max(max_m, max_l)
        mm = np.zeros((ks, wdt), dtype=np.uint8)
        mm[:, :max_m] = mmat[sub]
        lmt = np.zeros((ks, wdt), dtype=np.uint8)
        lmt[:, :max_l] = lmat[sub]
        a_is_m = (lm[sub] <= ll[sub])[:, None]
        pat = np.where(a_is_m, mm, lmt)      # shorter side = DP pattern
        txt = np.where(a_is_m, lmt, mm)
        la = np.minimum(lm[sub], ll[sub]).astype(np.uint64)
        srows = np.arange(ks)
        masks = np.zeros((ks, 128), dtype=np.uint64)
        for j in range(int(la.max())):
            col = pat[:, j]
            v = col != 0
            # one row index at most once per column: plain fancy |= scatter
            masks[srows[v], col[v]] |= np.uint64(1) << np.uint64(j)
        width = (np.uint64(1) << la) - np.uint64(1)
        vbits = width.copy()
        for j in range(int(np.maximum(lm[sub], ll[sub]).max())):
            col = txt[:, j]
            mj = masks[srows, col]
            u = vbits & mj
            nv = ((vbits + u) | (vbits & ~mj)) & width
            vbits = np.where(col != 0, nv, vbits)
        lcs = la.astype(np.int64) - _popcount64(vbits).astype(np.int64)
        dist = lm[sub] + ll[sub] - 2 * lcs
        r[sub] = (total[sub] - dist) / total[sub]

    # assemble per the scalar single-token control flow: below-floor rows
    # return (ub, False) unless the equal-length partial check (== r there)
    # fires, in which case they fall through to (r, True); above-floor rows
    # always return r with pex from the pr_gate/participate branches
    pex_hit = pr_gate & eq_len & (r > 0.9)
    out_f = np.where(below & ~pex_hit, ub, r)
    out_p = np.where(
        below, pex_hit, pex_hit | (participate & (r > 0.9))
    )

    gi = np.asarray(idx)
    fuzzy[gi] = out_f
    pexact[gi] = out_p
    if scalar_rows.any():
        for j in np.flatnonzero(scalar_rows):
            i = idx[j]
            fuzzy[i], pexact[i] = lookup_fuzzy_pexact(
                mentions[i] or "", labels[i] or "", min_fuzzy
            )
    return fuzzy, pexact


def lookup_fuzzy_pexact(mention: str, label: str, min_fuzzy: float = 0.70):
    """Fused (mixed_fuzzy_score, is_partial_exact) for the lookup UDF —
    inputs MUST already be lookup-normalized (lowercase, single-space,
    trimmed; operators/lookup.py ``norm_col``), which collapses the
    reference's 0.9·lower + 0.1·raw mix to the plain scores.

    Sound fast path: survivors of the lookup stage need
    ``fuzzy * origin_w ≥ max(min_fuzzy, best−margin) ≥ min_fuzzy`` with
    origin_w ≤ 1, OR pexact. The character-multiset intersection C bounds
    LCS under any token reordering, so ``ub = 2C/(|m|+|l|)`` bounds both
    ratio and token_sort_ratio; token_set (length-gated) is computed exactly
    (cheap — one small DP on deduped token strings). When the resulting
    upper bound on the top-2 mean is below ``min_fuzzy`` AND the pexact
    branches are provably false (partial_ratio ≤ 2·min(C,|short|)/2|short|;
    token_set exact), the pair can't survive downstream and we return
    ``(upper_bound, False)`` without any full DP. The returned bound is
    < min_fuzzy, so the adaptive threshold ``max(floor, max_fuzzy−margin)``
    is unchanged: a non-survivor's contribution to max_fuzzy is < floor+…
    and can never raise the threshold past the floor. Survivors and pexact
    pairs always get the exact score. Pinned against the unfused pair by
    tests/test_functions.py (hypothesis)."""
    m, l = mention, label
    if m == l:
        return 1.0, True
    lm, ll_ = len(m), len(l)
    if lm == 0 or ll_ == 0:
        # ratio/token_sort are 0 vs non-empty; token_set gate needs both
        return (1.0, True) if lm == ll_ else (0.0, False)
    participate = 0.5 < lm / ll_ < 2.0

    if " " not in m and " " not in l:
        # single-token fast path (the dominant lookup shape: normalized
        # single-space inputs, so no-space ⇔ one token). For one-token
        # unequal strings token_sort_ratio == ratio and token_set_ratio ==
        # ratio (empty intersection ⇒ set algebra degenerates to
        # ratio(m, l)), and the token-count difference is 0 — every value
        # below is EXACTLY the general path's, with all split/set/join
        # machinery skipped.
        c = _common_chars(m, l)
        ub = 2.0 * c / (lm + ll_)
        lmin = lm if lm < ll_ else ll_
        # ratio ≤ ub (LCS ≤ multiset intersection), so when participate the
        # general path's fuzzy_ub = max(ub, (ub+tset)/2) with tset = ratio
        # collapses to ub, and its tset > 0.9 bypass implies ub > 0.9 —
        # unreachable below the floor; both branches reduce to the ub test.
        if ub < min_fuzzy:
            pex = False
            if min(c, lmin) / lmin > 0.9:
                pex = partial_ratio(m, l) > 0.9
            if not pex:
                return ub, False
        r = ratio(m, l)
        # top-2 mean of {r, r[, r]} = r
        pex = False
        if min(c, lmin) / lmin > 0.9:  # token_diff = 0 ≤ 2 always holds
            pex = partial_ratio(m, l) > 0.9
        if not pex and participate:
            pex = r > 0.9
        return r, pex

    c = _common_chars(m, l)
    ub = 2.0 * c / (lm + ll_)
    tset = token_set_ratio(m, l) if participate else None

    fuzzy_ub = max(ub, (ub + tset) / 2.0) if tset is not None else ub
    if fuzzy_ub < min_fuzzy:
        # provably below the survival floor — only a pexact bypass matters
        if tset is not None and tset > 0.9:
            pass  # pexact: fall through to the exact path for the score
        else:
            lmin = lm if lm < ll_ else ll_
            pex = False
            if (
                min(c, lmin) / lmin > 0.9
                and abs(len(m.split()) - len(l.split())) <= 2
            ):
                pex = partial_ratio(m, l) > 0.9
            if not pex:
                return fuzzy_ub, False

    scores = [ratio(m, l), token_sort_ratio(m, l)]
    if tset is not None:
        scores.append(tset)
    scores.sort(reverse=True)
    fuzzy = (scores[0] + scores[1]) / 2.0

    pex = False
    if abs(len(m.split()) - len(l.split())) <= 2:
        lmin = lm if lm < ll_ else ll_
        if min(c, lmin) / lmin > 0.9:  # else partial_ratio ≤ 0.9, skip DP
            pex = partial_ratio(m, l) > 0.9
    if not pex and tset is not None:
        pex = tset > 0.9
    return fuzzy, pex
