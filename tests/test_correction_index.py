"""DictionaryIndex.correct vs reference.correct_word (Hypothesis).

The index is the production kernel's correction step, so it must equal
the oracle exactly: the k / k+3 retry, the identity fallback, the
uniform() normalization of the token and the postProcessing tie-break
in dictionary order. Dictionaries cover the fixture lexicon, the
tie-break goldens of test_reference_goldens.py, a 2,000-character CJK
lexicon (all pairwise distances 1), an empty dictionary and one whose
words collide after uniform().
"""

from hypothesis import example, given, settings
from hypothesis import strategies as st

from basicocr_spark import reference as R
from basicocr_spark.fixtures import SEED, gen_dictionary
from basicocr_spark.operators.correction import DictionaryIndex

LATIN = "abcdefghyz"
FULL_WIDTH = {c: chr(ord(c) + 0xFEE0) for c in LATIN + LATIN.upper()}
POOL = LATIN + LATIN.upper() + "".join(FULL_WIDTH.values()) + R.DEFAULT_ALPHABET

DICTIONARIES = {
    "fixture": gen_dictionary(SEED),
    "tie_break": ["cat 5", "cap 9", "dog 2", "cata 50"],
    "freq_fallback": ["aaaa 5", "bbbb 9"],
    "identity": ["zzzz 1"],
    "retry": ["abcdefgh 1"],
    "cjk_charset": [f"{chr(0x4E00 + i)} {i % 97}" for i in range(2000)],
    "empty": [],
    "uniform_duplicates": ["abc 5", "ABC 9", "ａｂｃ 7", "abd 9", "Abd 3", "abcd 1", "ab 9"],
}
ENTRIES = {name: R.load_dictionary(lines) for name, lines in DICTIONARIES.items()}
INDEXES = {name: DictionaryIndex(entries) for name, entries in ENTRIES.items()}


def _styled(word: str, style: int) -> str:
    if style == 1:
        return word.upper()
    if style == 2:
        return "".join(FULL_WIDTH.get(c, c) for c in word)
    return word


@st.composite
def dictionary_and_token(draw):
    name = draw(st.sampled_from(sorted(DICTIONARIES)))
    words = [e.word for e in ENTRIES[name]]
    if words and draw(st.booleans()):
        # near a dictionary word: up to 3 edits, then a case or
        # full-width rendering that uniform() must undo
        tok = list(draw(st.sampled_from(words)))
        for _ in range(draw(st.integers(0, 3))):
            i = draw(st.integers(0, len(tok)))
            op = draw(st.sampled_from("ids"))
            if op == "i":
                tok.insert(i, draw(st.sampled_from(POOL)))
            elif tok and i < len(tok):
                if op == "d":
                    del tok[i]
                else:
                    tok[i] = draw(st.sampled_from(POOL))
        tok = _styled("".join(tok)[:16], draw(st.integers(0, 2)))
    else:
        tok = draw(st.text(alphabet=POOL, min_size=0, max_size=16))
    return name, tok


@given(dictionary_and_token(), st.integers(min_value=0, max_value=3))
# the hand-derived cases of test_reference_goldens.py: first-by-line
# tie, the max-freq fallthrough, the k+3 retry, the identity fallback
@example(("tie_break", "cax"), 1)
@example(("tie_break", "caxx"), 2)
@example(("freq_fallback", "aab"), 3)
@example(("identity", "QQQQQQQQQQQQ"), 1)
@example(("retry", "abc"), 1)
@example(("retry", "abcd"), 1)
@example(("empty", "Ａｂ"), 3)
@settings(max_examples=500, deadline=None)
def test_index_correct_matches_reference(case, k):
    name, tok = case
    want = R.correct_word(tok, ENTRIES[name], k)
    assert INDEXES[name].correct(tok, k) == want, (name, tok, k)
