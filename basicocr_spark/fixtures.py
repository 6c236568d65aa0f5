"""Deterministic fixture generation (seed-pinned, no wall clock).

Plays the role plateGen plays in the reference — a self-labeling oracle
(reference: tool/plateGen/genplate_plate.py:210-226 writes (image, label)
pairs with known ground truth) — generalized to the interleaved document
corpus of the north rule:

- `documents`: (doc_id, spans array<struct<kind,text,media_ref,offset>>),
  heavy-tailed span counts to exercise skew handling.
- `media_logits`: media_ref -> T×nclass logits whose greedy CTC decode is
  a known label (model weights are absent from the reference repo, so
  recognition is fixture-driven; FIXTURES.md §2).
- `dictionary` / `stopwords`: the trietree / AC-automaton side tables
  (reference formats: contrib/trietree/README.md:11, Test.java:99-122).
- `boxes`: pre-scored detection geometry with golden groupings.
- `golden`: the expected end-to-end extraction, produced by the
  pure-Python reference extractor (basicocr_spark.reference).
"""

from __future__ import annotations

import random

from . import reference as R

SEED = 42

# Words built over the uniform()-normalized alphabet so CTC output can be
# dictionary-corrected. DEFAULT_ALPHABET uniform()s to
# 'acimrey万下依口哺摄次状璐癌草血运重'.
_ALPHA = R.DEFAULT_ALPHABET
_ALPHA_LOWER = R.uniform(_ALPHA)

# Content vocabulary for text spans (plain English so boilerplate scoring
# and stop-content stripping have realistic material).
_CONTENT_WORDS = (
    "analysis batch cluster column corpus decode detect engine extract filter "
    "graph image join kernel label layout line matrix merge model network "
    "offset output parse partition pipeline proposal query recognize region "
    "row scale scan schema score segment shuffle span stage stream table text "
    "token train vector window"
).split()

_NAV_WORDS = "home about contact login register archive sitemap next prev".split()

STOP_TERMS = [
    "click here",
    "advertisement",
    "subscribe now",
    "all rights reserved",
    "cookie policy",
    "terms of service",
    "share this",
    "read more",
    "sponsored",
    "sign up",
]


def _label_words(rng: random.Random, n: int) -> list[str]:
    """Deterministic words over the normalized alphabet, length 2-6."""
    return ["".join(rng.choice(_ALPHA_LOWER) for _ in range(rng.randint(2, 6))) for _ in range(n)]


def gen_dictionary(seed: int = SEED, n_words: int = 400) -> list[str]:
    """Raw `word freq` lines (trietree README:11 format). Includes
    near-collision pairs at edit distance 1-2 with distinct freqs (to
    exercise the postProcessing tie-break), full-width variants (Q2B),
    and uppercase variants (lowercasing)."""
    rng = random.Random(seed * 7 + 1)
    words: list[str] = []
    seen: set[str] = set()
    for w in _label_words(rng, n_words):
        if w not in seen:
            seen.add(w)
            words.append(w)
    lines = []
    for w in words:
        lines.append(f"{w} {rng.randint(1, 99)}")
        # edit-distance-1 sibling with a different freq (tie-break fodder)
        if rng.random() < 0.25 and len(w) > 2:
            sib = w[: len(w) // 2] + rng.choice(_ALPHA_LOWER) + w[len(w) // 2 + 1 :]
            if sib not in seen:
                seen.add(sib)
                lines.append(f"{sib} {rng.randint(1, 99)}")
    # full-width + uppercase variants of a few latin-only words: these
    # normalize to their plain forms on load (construction_trietree
    # uniform()s every line, trietree_correct.py:140)
    latin = [w for w in words if all("a" <= c <= "z" for c in w)][:5]
    for w in latin:
        full = "".join(chr(ord(c) + 0xFEE0) for c in w)
        lines.append(f"{full} {rng.randint(1, 99)}")
        lines.append(f"{w.upper()} {rng.randint(1, 99)}")
    return lines


def _plant_path(rng: random.Random, label_idx: list[int], t_total: int = 26) -> list[int]:
    """Argmax path whose CTC collapse yields label_idx: for each char emit
    1-2 repeats, separate equal neighbors with blanks, pad with blanks —
    mirrors the golden collapse case [5,5,0,1] -> 'ea'
    (contrib/crnn/test/test_utils.py:53-56)."""
    path: list[int] = []
    prev = None
    for idx in label_idx:
        if prev == idx:
            path.append(0)
        path.extend([idx] * rng.randint(1, 2))
        prev = idx
    while len(path) < t_total:
        path.append(0)
    return path[:t_total]


def gen_media_logits(
    n: int, seed: int = SEED, alphabet: str = _ALPHA, t_total: int = 26
) -> list[tuple[str, list[list[float]], str]]:
    """(media_ref, logits T×(len(alphabet)+1), gold_text) rows.

    Labels are drawn in ORIGINAL alphabet case (encode never lowercases —
    the ignore_case no-op, utils.py:26-28); logits put 8.0 on the path
    class and deterministic small values elsewhere.
    """
    rng = random.Random(seed * 13 + 2)
    nclass = len(alphabet) + 1
    rows = []
    for i in range(n):
        ref = f"m{i:06d}"
        length = rng.randint(2, 7)
        label = "".join(rng.choice(alphabet) for _ in range(length))
        label_idx = [alphabet.index(c) + 1 for c in label]
        path = _plant_path(rng, label_idx, t_total)
        logits = []
        for t, cls in enumerate(path):
            row = [round(((t * 31 + j * 17) % 23) / 23.0, 4) for j in range(nclass)]
            row[cls] = 8.0
            logits.append(row)
        rows.append((ref, logits, label))
    return rows


def gen_soft_logits(
    n: int, seed: int = SEED, alphabet: str = _ALPHA, t_total: int = 10, n_active: int = 4
) -> list[tuple[str, list[list[float]]]]:
    """(media_ref, logits T×(len(alphabet)+1)) rows with SOFT evidence —
    no planted 8.0 spike. Each row draws a small active class set whose
    logits sit in [0, 3.5] (blank competes at [0.5, 3.0]); inactive
    classes are pinned at -8 so the softmax mass stays on the actives.
    Soft frames are where beam search and greedy decode genuinely
    diverge (greedy follows the best per-frame alignment; beam sums
    mass over alignments per labeling) — gen_media_logits' peaky rows
    would make a beam fixture vacuous."""
    rng = random.Random(seed * 17 + 5)
    nclass = len(alphabet) + 1
    rows = []
    for i in range(n):
        ref = f"s{i:06d}"
        active = sorted(rng.sample(range(1, nclass), n_active))
        logits = []
        for _ in range(t_total):
            row = [-8.0] * nclass
            row[0] = round(rng.uniform(0.5, 3.0), 4)
            for k in active:
                row[k] = round(rng.uniform(0.0, 3.5), 4)
            logits.append(row)
        rows.append((ref, logits))
    return rows


def _content_block(rng: random.Random, stop_prob: float = 0.2) -> str:
    words = [rng.choice(_CONTENT_WORDS) for _ in range(rng.randint(8, 20))]
    if rng.random() < stop_prob:
        pos = rng.randrange(len(words))
        words.insert(pos, rng.choice(STOP_TERMS))
    return "<p>" + " ".join(words) + "</p>"


def _nav_block(rng: random.Random) -> str:
    links = "".join(
        f'<a href="/{w}">{w}</a> ' for w in rng.sample(_NAV_WORDS, rng.randint(3, 6))
    )
    return f'<div class="nav">{links}</div>'


def _footer_block(rng: random.Random) -> str:
    return f'<div class="footer">{rng.choice(STOP_TERMS)} copyright</div>'


def gen_text_span(rng: random.Random) -> str:
    """One HTML-ish text payload: content blocks framed by nav/footer."""
    blocks = [_nav_block(rng)]
    for _ in range(rng.randint(1, 4)):
        blocks.append(_content_block(rng))
    if rng.random() < 0.5:
        blocks.append(_footer_block(rng))
    return "\n".join(blocks)


def gen_documents(
    n_docs: int, n_media: int, seed: int = SEED, skew: bool = True
) -> list[tuple[str, list[dict]]]:
    """Interleaved documents. Span counts are heavy-tailed when skew=True:
    ~2% of docs get 30-120 spans (vs median 4) so salting/AQE paths are
    exercised (SURVEY.md §7 hard part #4)."""
    rng = random.Random(seed * 17 + 3)
    docs = []
    for d in range(n_docs):
        doc_id = f"d{d:08d}"
        if skew and rng.random() < 0.02:
            n_spans = rng.randint(30, 120)
        else:
            n_spans = rng.randint(2, 8)
        spans = []
        offset = 0
        for _ in range(n_spans):
            offset += rng.randint(1, 9)
            if rng.random() < 0.3:
                spans.append(
                    {
                        "kind": "media",
                        "text": None,
                        "media_ref": f"m{rng.randrange(n_media):06d}",
                        "offset": offset,
                    }
                )
            else:
                spans.append(
                    {"kind": "text", "text": gen_text_span(rng), "media_ref": None, "offset": offset}
                )
        # shuffle storage order: stitch must re-establish offset order
        rng.shuffle(spans)
        docs.append((doc_id, spans))
    return docs


def gen_boxes(n_media: int, seed: int = SEED) -> list[tuple]:
    """Pre-scored boxes + link scores + golden groups per media_ref
    (FIXTURES.md §6): two text lines per image, sub-threshold boxes and
    negative inter-line links, per SegLink_t.md:168/178 defaults."""
    rng = random.Random(seed * 19 + 4)
    rows = []
    for i in range(n_media):
        ref = f"m{i:06d}"
        n_boxes = rng.randint(4, 10)
        boxes = []
        for b in range(n_boxes):
            line = 0 if b < n_boxes // 2 else 1
            score = round(rng.uniform(0.91, 0.99), 3) if rng.random() > 0.2 else round(
                rng.uniform(0.3, 0.89), 3
            )
            boxes.append(
                (
                    round(10.0 + 20.0 * b, 1),
                    round(16.0 + 32.0 * line, 1),
                    20.0,
                    16.0,
                    round(rng.uniform(-0.2, 0.2), 3),
                    score,
                )
            )
        links = []
        for b in range(n_boxes - 1):
            same_line = (b < n_boxes // 2 - 1) or (b >= n_boxes // 2)
            ls = round(rng.uniform(0.75, 0.95), 3) if same_line else round(rng.uniform(0.0, 0.6), 3)
            links.append((b, b + 1, ls))
        gold = R.group_segments(
            n_boxes, [bx[5] for bx in boxes], links, alpha=0.9, beta=0.7
        )
        rows.append((ref, boxes, links, gold))
    return rows


def gen_rotated_boxes(n_media: int, seed: int = SEED) -> list[tuple]:
    """θ-carrying boxes per media_ref for the rotated-NMS fixture
    (reference: RRPN analysis, docs/nizhan): each image plants (a) a
    CROSS — two elongated lines sharing a center at θ=0 and θ=π/2,
    which an axis-aligned NMS wrongly suppresses (their upright extents
    coincide) but rotated IoU keeps (overlap is the small center
    square); (b) a PARALLEL DUP — two same-θ boxes offset by one pixel,
    which rotated IoU correctly suppresses; (c) seeded background boxes
    far apart. All values double-precision (the fixture schema uses
    double columns so kernel and oracle fold identical floats)."""
    rng = random.Random(seed * 31 + 7)
    rows = []
    for i in range(n_media):
        ref = f"r{i:06d}"
        boxes = [
            # cross at (40, 40)
            (40.0, 40.0, 24.0, 6.0, 0.0, 0.95),
            (40.0, 40.0, 24.0, 6.0, 1.5707963267948966, 0.9),
            # parallel near-dup at (110, 40), same θ
            (110.0, 40.0, 20.0, 8.0, 0.6, 0.92),
            (111.0, 40.0, 20.0, 8.0, 0.6, 0.88),
        ]
        for b in range(rng.randint(2, 5)):
            boxes.append(
                (
                    round(rng.uniform(200.0, 800.0), 2),
                    round(rng.uniform(100.0, 400.0), 2),
                    round(rng.uniform(10.0, 30.0), 2),
                    round(rng.uniform(4.0, 12.0), 2),
                    round(rng.uniform(-1.5, 1.5), 3),
                    round(rng.uniform(0.5, 0.99), 3),
                )
            )
        rows.append((ref, boxes))
    return rows


ROTATED_BOXES_SCHEMA = (
    "media_ref string, boxes array<struct<"
    "x:double,y:double,w:double,h:double,theta:double,score:double>>"
)


def golden_extraction(
    docs: list[tuple[str, list[dict]]],
    logits_rows: list[tuple[str, list[list[float]], str]],
    dict_lines: list[str],
    stop_terms: list[str] = STOP_TERMS,
) -> list[tuple[str, list[dict]]]:
    """Expected end-to-end output via the pure-Python reference extractor."""
    logits_by_ref = {r: lg for r, lg, _ in logits_rows}
    entries = R.load_dictionary(dict_lines)
    return [
        (doc_id, R.extract_document(spans, logits_by_ref, entries, stop_terms))
        for doc_id, spans in docs
    ]


# ---------------------------------------------------------------------------
# Spark DataFrame constructors
# ---------------------------------------------------------------------------

def build_fixture_dfs(spark, n_docs: int = 60, n_media: int = 40, seed: int = SEED):
    """All fixture DataFrames with explicit schemas (no inference)."""
    from . import schemas as S

    docs = gen_documents(n_docs, n_media, seed)
    logits = gen_media_logits(n_media, seed)
    dict_lines = gen_dictionary(seed)
    boxes = gen_boxes(min(n_media, 20), seed)
    gold = golden_extraction(docs, logits, dict_lines)

    docs_df = spark.createDataFrame(
        [(d, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]) for d, spans in docs],
        schema=S.DOCUMENTS,
    )
    logits_df = spark.createDataFrame(logits, schema=S.MEDIA_LOGITS)
    entries = R.load_dictionary(dict_lines)
    dict_df = spark.createDataFrame(
        [(e.line_id, e.word, e.freq) for e in entries], schema=S.DICTIONARY
    )
    stop_df = spark.createDataFrame([(t,) for t in STOP_TERMS], schema=S.STOPWORDS)
    boxes_df = spark.createDataFrame(boxes, schema=S.BOXES)
    gold_df = spark.createDataFrame(
        [(d, [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans]) for d, spans in gold],
        schema=S.EXTRACTED,
    )
    return {
        "documents": docs_df,
        "media_logits": logits_df,
        "dictionary": dict_df,
        "stopwords": stop_df,
        "boxes": boxes_df,
        "golden": gold_df,
        "dict_lines": dict_lines,
    }
