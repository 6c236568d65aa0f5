"""Pure-Python reference semantics — the in-process oracle.

Every quirk of the reference implementation is reproduced here exactly so
the Spark operators can be tested for span-sequence equality against it
(SURVEY.md §7 hard part #1). No Spark imports — this module must stay a
plain, single-process, obviously-correct transliteration of the semantics
(NOT the code) of:

- contrib/crnn/utils.py:25-101  (strLabelConverter encode/decode, CTC)
- contrib/trietree/src/trietree_correct.py  (Q2B/uniform normalization,
  char-class segmentation, edit-distance dictionary search, the
  postProcessing tie-break with its first-iteration-return quirk)
- contrib/acautomata Test.java:60-81  (multi-pattern stop-content strip)
- plus our own frozen boilerplate-block-scoring algorithm (new logic; the
  reference has no HTML handling — see `boilerplate_keep_score`).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# Active alphabet of the reference (contrib/crnn/keys.py:3): 21 chars,
# mixed Latin + CJK. Index 0 is the CTC blank; char i maps to i+1
# (utils.py:31-34). decode(raw=True) renders blank as '-' via the
# appended sentinel (utils.py:29, 83).
DEFAULT_ALPHABET = "ACIMRey万下依口哺摄次状璐癌草血运重"
TEST_ALPHABET = "abcdefghijklmnopqrstuvwxyz"  # test_utils.py:32


# ---------------------------------------------------------------------------
# CTC label conversion (utils.py:25-101)
# ---------------------------------------------------------------------------

def encode(texts: list[str], alphabet: str = DEFAULT_ALPHABET) -> tuple[list[int], list[int]]:
    """Batch of strings -> (flat 1-based index vector, per-string lengths).

    Matches strLabelConverter.encode (utils.py:44-64). NOTE ignore_case is
    a no-op in the reference (the branch assigns alphabet to itself,
    utils.py:26-28) — we deliberately do NOT lowercase.
    """
    d = {ch: i + 1 for i, ch in enumerate(alphabet)}
    flat: list[int] = []
    lengths: list[int] = []
    for item in texts:
        lengths.append(len(item))
        flat.extend(d[ch] for ch in item)
    return flat, lengths


def decode_single(t: list[int], raw: bool = False, alphabet: str = DEFAULT_ALPHABET) -> str:
    """Decode one index sequence. Matches utils.py:82-89.

    raw=True: every index mapped through `alphabet + '-'` with i-1, so
    blank (0) renders as '-' (alphabet[-1]).
    raw=False: CTC greedy collapse — keep t[i] where t[i] != 0 and not
    (i > 0 and t[i-1] == t[i]).
    """
    alpha = alphabet + "-"
    if raw:
        return "".join(alpha[i - 1] for i in t)
    out = []
    for i, v in enumerate(t):
        if v != 0 and not (i > 0 and t[i - 1] == v):
            out.append(alpha[v - 1])
    return "".join(out)


def decode_batch(
    flat: list[int], lengths: list[int], raw: bool = False, alphabet: str = DEFAULT_ALPHABET
) -> list[str]:
    """Batch decode by slicing the flat vector at running offsets (utils.py:90-101)."""
    if sum(lengths) != len(flat):
        raise AssertionError(
            f"texts with length: {len(flat)} does not match declared length: {sum(lengths)}"
        )
    texts = []
    idx = 0
    for l in lengths:
        texts.append(decode_single(flat[idx : idx + l], raw=raw, alphabet=alphabet))
        idx += l
    return texts


def ctc_greedy_decode(logits: list[list[float]], alphabet: str = DEFAULT_ALPHABET) -> str:
    """argmax per timestep (first max on ties, = numpy/torch convention;
    demo.py:35-37) then collapse-decode (utils.py:85-89)."""
    t = [max(range(len(row)), key=lambda j: (row[j], -j)) for row in logits]
    return decode_single(t, raw=False, alphabet=alphabet)


# ---------------------------------------------------------------------------
# Unicode normalization & segmentation (trietree_correct.py:21-91)
# ---------------------------------------------------------------------------

def is_chinese(ch: str) -> bool:
    return "一" <= ch <= "龥"  # trietree_correct.py:21-25


def is_alphabet(ch: str) -> bool:
    return "A" <= ch <= "Z" or "a" <= ch <= "z"  # :28-32


def is_number(ch: str) -> bool:
    return "0" <= ch <= "9"  # :35-39


def is_other(ch: str) -> bool:
    return not (is_chinese(ch) or is_number(ch) or is_alphabet(ch))  # :42-46


def q2b_char(ch: str) -> str:
    """Full-width -> half-width, one char (trietree_correct.py:56-66)."""
    code = ord(ch)
    if code == 0x3000:
        code = 0x0020
    else:
        code -= 0xFEE0
    if code < 0x0020 or code > 0x7E:
        return ch
    return chr(code)


def uniform(s: str) -> str:
    """stringQ2B + lower (trietree_correct.py:68-72)."""
    return "".join(q2b_char(c) for c in s).lower()


def string2list_reference(s: str) -> list[str]:
    """Faithful port of string2List (trietree_correct.py:74-91) INCLUDING
    its quirk: the trailing `if len(utmp)!=0: append` sits inside the char
    loop, so every prefix of a run is emitted, plus a duplicate full run
    when a run is terminated by an 'other' char (not by end-of-string).
    """
    ret: list[str] = []
    utmp: list[str] = []
    for ch in s:
        if is_other(ch):
            if len(utmp) == 0:
                continue
            ret.append("".join(utmp))
            utmp = []
        else:
            utmp.append(ch)
        if len(utmp) != 0:
            ret.append("".join(utmp))
    return ret


def segment_runs(s: str) -> list[str]:
    """The intended semantics of string2List: maximal runs of
    chinese/alpha/digit chars, split on everything else."""
    return [r for r in re.split(r"[^0-9A-Za-z一-龥]+", s) if r]


# ---------------------------------------------------------------------------
# Dictionary correction (trietree_correct.py:133-274)
# ---------------------------------------------------------------------------

def levenshtein(a: str, b: str) -> int:
    """Plain edit distance — identical to the DP the trie walk computes
    (searchRecursive, trietree_correct.py:168-199) and to Spark/DuckDB
    `levenshtein`."""
    prev = list(range(len(a) + 1))
    for j, cb in enumerate(b, 1):
        cur = [j]
        for i, ca in enumerate(a, 1):
            cur.append(min(cur[i - 1] + 1, prev[i] + 1, prev[i - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@dataclass(frozen=True)
class DictEntry:
    line_id: int  # file order; pins candidate order for the tie-break
    word: str  # already uniform()-normalized (construction_trietree :140)
    freq: float


def load_dictionary(lines: list[str]) -> list[DictEntry]:
    """Parse `word freq` lines, uniform()-normalizing like
    construction_trietree (trietree_correct.py:133-148)."""
    out = []
    for i, line in enumerate(lines):
        parts = uniform(line).strip().split()
        if len(parts) != 2:
            continue
        out.append(DictEntry(i, parts[0], float(parts[1])))
    return out


def search_dictionary(target: str, max_cost: int, entries: list[DictEntry]):
    """All entries with edit distance <= max_cost, in dictionary order.

    The reference's trie DFS visits candidates in Python-2 dict-hash order
    (unspecified); we pin the canonical candidate order to dictionary file
    order — the Spark pipeline orders by line_id identically.
    """
    return [
        (e, d) for e in entries if (d := levenshtein(target, e.word)) <= max_cost
    ]


def post_processing(target: str, candidates) -> str:
    """Exact tie-break of postProcessing (trietree_correct.py:202-242):

    - dist 0 present -> first dist-0 candidate.
    - unique min-dist candidate -> it.
    - several: the loop returns on its FIRST iteration either way —
      if len(target) == len(words_min[0]) return words_min[0], else
      return the first max-freq candidate among the min-dist set.
    """
    dists = [d for _, d in candidates]
    dis_min = min(dists)
    words_min = [(e, d) for e, d in candidates if d == dis_min]
    first = words_min[0][0]
    if dis_min == 0:
        return first.word
    if len(words_min) == 1:
        return first.word
    if len(target) == len(first.word):
        return first.word
    freqs = [e.freq for e, _ in words_min]
    return words_min[freqs.index(max(freqs))][0].word


def correct_word(target: str, entries: list[DictEntry], max_cost: int = 3) -> str:
    """Full correct_word pipeline (trietree_correct.py:245-274):
    uniform-normalize, search at k, retry at k+3, identity fallback,
    then the tie-break."""
    t = uniform(target)
    cands = search_dictionary(t, max_cost, entries)
    if not cands:
        cands = search_dictionary(t, max_cost + 3, entries)
        if not cands:
            return t
    return post_processing(t, cands)


# ---------------------------------------------------------------------------
# Stop-content strip (Test.java:60-81 semantics)
# ---------------------------------------------------------------------------

def stop_term_pattern(terms: list[str]) -> str:
    """Longest-first alternation over escaped stop terms — THE canonical
    builder (sort key is part of the equality surface: it decides which
    of two overlapping terms wins). The Spark column pipeline and the
    vectorized kernels must build the identical pattern."""
    return "|".join(re.escape(t) for t in sorted(terms, key=lambda t: (-len(t), t)))


def strip_stop_content(text: str, terms: list[str]) -> str:
    """Remove every occurrence of every dictionary term — the AC-automaton
    scan + replace loop of Test.java:60-81. Canonicalized as a single
    longest-first alternation so overlapping terms resolve
    deterministically; fixture terms are chosen non-pathological."""
    if not terms:
        return text
    return re.sub(stop_term_pattern(terms), "", text)


# ---------------------------------------------------------------------------
# Boilerplate block scoring (new logic — frozen golden algorithm)
# ---------------------------------------------------------------------------
# The reference has no HTML handling; the north rule adds it. This frozen
# spec is the contract both the pure-Python oracle and the Spark column
# pipeline implement:
#   blocks      := split(raw, '\n')
#   tagless(b)  := b with every <...> tag removed, whitespace collapsed, trimmed
#   link_len(b) := total length of text inside <a ...>...</a>
#   ld(b)       := link_len / max(len(tagless), 1)
#   wc(b)       := whitespace-token count of tagless
#   bonus(b)    := +25 if '<p>' or 'class="content"' in b
#                  -25 if '<li>' in b or class is nav/footer/sidebar
#   score(b)    := wc + bonus - 50*ld        (Readability-style class weights)
#   keep b iff score > 0
#   out := stop-content-strip( join(kept tagless blocks, ' ') ), ws-collapsed

_TAG_RE = re.compile(r"<[^>]*>")
_A_RE = re.compile(r"<a\b[^>]*>(.*?)</a>", re.S)
_WS_RE = re.compile(r"\s+")
_NEG_CLASS_RE = re.compile(r'class="(?:nav|footer|sidebar)"')


def block_tagless(block: str) -> str:
    return _WS_RE.sub(" ", _TAG_RE.sub("", block)).strip()


def block_link_len(block: str) -> int:
    return sum(len(_WS_RE.sub(" ", _TAG_RE.sub("", m)).strip()) for m in _A_RE.findall(block))


def boilerplate_keep_score(block: str) -> float:
    tagless = block_tagless(block)
    ld = block_link_len(block) / max(len(tagless), 1)
    wc = len(tagless.split()) if tagless else 0
    bonus = 0
    if "<p>" in block or 'class="content"' in block:
        bonus += 25
    if "<li>" in block or _NEG_CLASS_RE.search(block):
        bonus -= 25
    return wc + bonus - 50.0 * ld


def extract_main_text(raw: str, stop_terms: list[str]) -> str:
    kept = [block_tagless(b) for b in raw.split("\n") if boilerplate_keep_score(b) > 0]
    joined = " ".join(k for k in kept if k)
    return _WS_RE.sub(" ", strip_stop_content(joined, stop_terms)).strip()


# ---------------------------------------------------------------------------
# Detection grouping (SegLink Alg.1 — docs/nizhan/SegLink/SegLink_t.md:97-103)
# ---------------------------------------------------------------------------

def group_segments(
    n_boxes: int,
    scores: list[float],
    links: list[tuple[int, int, float]],
    alpha: float = 0.9,
    beta: float = 0.7,
) -> list[list[int]]:
    """Filter boxes by score>=alpha and links by score>=beta (both
    endpoints surviving), then connected components via union-find;
    components emitted sorted by min member index, members ascending.
    Thresholds default to the published α=0.9 / β=0.7 (SegLink_t.md:168).
    """
    keep = [i for i in range(n_boxes) if scores[i] >= alpha]
    keep_set = set(keep)
    parent = {i: i for i in keep}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for src, dst, s in links:
        if s >= beta and src in keep_set and dst in keep_set:
            ra, rb = find(src), find(dst)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for i in keep:
        comps.setdefault(find(i), []).append(i)
    return [sorted(v) for _, v in sorted(comps.items())]


def nms(boxes: list[tuple[float, float, float, float]], scores: list[float], iou_thresh: float = 0.5) -> list[int]:
    """Greedy NMS: sort by score desc (ties by index asc), suppress
    IoU > threshold (axis-aligned (x,y,w,h) with x,y = center).
    Reference analog: the overlap-grouping step in
    docs/maoshaojiang/基于TensorFlow的车牌号识别系统.md:103-110."""
    order = sorted(range(len(boxes)), key=lambda i: (-scores[i], i))
    kept: list[int] = []
    for i in order:
        xi, yi, wi, hi = boxes[i]
        ok = True
        for j in kept:
            xj, yj, wj, hj = boxes[j]
            ix = max(0.0, min(xi + wi / 2, xj + wj / 2) - max(xi - wi / 2, xj - wj / 2))
            iy = max(0.0, min(yi + hi / 2, yj + hj / 2) - max(yi - hi / 2, yj - hj / 2))
            inter = ix * iy
            union = wi * hi + wj * hj - inter
            if union > 0 and inter / union > iou_thresh:
                ok = False
                break
        if ok:
            kept.append(i)
    return sorted(kept)


def _rot_poly(b: tuple[float, float, float, float, float]) -> list[tuple[float, float]]:
    import math

    x, y, w, h, th = b
    c, s = math.cos(th), math.sin(th)
    return [
        (x + dx * c - dy * s, y + dx * s + dy * c)
        for dx, dy in ((-w / 2, -h / 2), (w / 2, -h / 2), (w / 2, h / 2), (-w / 2, h / 2))
    ]


def _convex_inter_area(p: list, q: list) -> float:
    """Convex-polygon intersection area: clip p successively by each
    directed edge of q (points kept on the left of each CCW edge), then
    shoelace. Independent twin of the engine's kernel for the oracle."""
    out = p
    for k in range(len(q)):
        if not out:
            return 0.0
        a, b = q[k], q[(k + 1) % len(q)]
        side = lambda pt: (b[0] - a[0]) * (pt[1] - a[1]) - (b[1] - a[1]) * (pt[0] - a[0])  # noqa: E731
        res = []
        m = len(out)
        for j in range(m):
            cur, nxt = out[j], out[(j + 1) % m]
            sc, sn = side(cur), side(nxt)
            if sc >= 0:
                res.append(cur)
            if (sc >= 0) != (sn >= 0):
                # edge crosses the clip line: append the crossing point
                t = sc / (sc - sn)
                res.append((cur[0] + t * (nxt[0] - cur[0]), cur[1] + t * (nxt[1] - cur[1])))
        out = res
    if len(out) < 3:
        return 0.0
    tot = 0.0
    for j in range(len(out)):
        x0, y0 = out[j]
        x1, y1 = out[(j + 1) % len(out)]
        tot += x0 * y1 - x1 * y0
    return abs(tot) / 2.0


def rotated_nms(
    boxes: list[tuple[float, float, float, float, float]],
    scores: list[float],
    iou_thresh: float = 0.5,
) -> list[int]:
    """Greedy NMS with θ-aware (rotated) IoU — the oracle twin of
    operators/detection.rotated_nms_df (RRPN overlap, docs/nizhan)."""
    order = sorted(range(len(boxes)), key=lambda i: (-scores[i], i))
    kept: list[int] = []
    for i in order:
        ok = True
        for j in kept:
            inter = _convex_inter_area(_rot_poly(boxes[i]), _rot_poly(boxes[j]))
            union = boxes[i][2] * boxes[i][3] + boxes[j][2] * boxes[j][3] - inter
            if union > 0 and inter / union > iou_thresh:
                ok = False
                break
        if ok:
            kept.append(i)
    return sorted(kept)


# ---------------------------------------------------------------------------
# End-to-end document extraction (the flagship oracle)
# ---------------------------------------------------------------------------

def extract_document(
    spans: list[dict],
    logits_by_ref: dict[str, list[list[float]]],
    entries: list[DictEntry],
    stop_terms: list[str],
    alphabet: str = DEFAULT_ALPHABET,
    max_cost: int = 3,
) -> list[dict]:
    """Reference extractor for one interleaved document.

    text spans  -> boilerplate strip + stop-content removal
    media spans -> CTC greedy decode of the fixture logits, then per-token
                   dictionary correction (tokens = whitespace split).
    Output spans keep (kind, text, media_ref, order) with order = rank of
    the original offset — the north-rule equality tuple. Offsets are
    strictly increasing per the input contract; out-of-contract ties are
    made deterministic via the composite key (offset, kind, media_ref,
    processed text), matching both Spark pipelines.
    """
    processed = []
    for sp in spans:
        if sp["kind"] == "text":
            txt = extract_main_text(sp["text"] or "", stop_terms)
            processed.append((sp["offset"], "text", txt, None))
        else:
            raw = ctc_greedy_decode(logits_by_ref[sp["media_ref"]], alphabet)
            corrected = (
                " ".join(correct_word(tok, entries, max_cost) for tok in raw.split())
                if raw
                else raw
            )
            # kind is data and passes through; ROUTING is text vs non-text
            # (out-of-contract kinds take the media/recognition leg, and
            # the Arrow kernel and the SQL oracle agree — see edge-case tests)
            processed.append((sp["offset"], sp["kind"], corrected, sp["media_ref"]))
    processed.sort(key=lambda p: (p[0], p[1] or "", p[3] or "", p[2] or "",
                                  p[1] is not None, p[3] is not None,
                                  p[2] is not None))
    return [
        {"kind": kind, "text": txt, "media_ref": mref, "order": rank}
        for rank, (_, kind, txt, mref) in enumerate(processed)
    ]
