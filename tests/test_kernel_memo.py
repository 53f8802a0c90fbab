"""The kernel's content-addressed memos (kernel/memo.py): the memoized
glyph and sub-word functions must return exactly what their uncached
bodies return, on every input the pipeline produces and on adversarial
ones, and the memo must stay inside its byte budget."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from arabic_ocr_spark.kernel import features, segmentation
from arabic_ocr_spark.kernel.classifier import CharModel
from arabic_ocr_spark.kernel.contours import contour_area, find_external_contours
from arabic_ocr_spark.kernel.imgops import baseline_y, horizontal_projection
from arabic_ocr_spark.kernel.memo import ENTRY_OVERHEAD, BoundedMemo
from arabic_ocr_spark.kernel.pipeline import extract_page
from arabic_ocr_spark.kernel.segmentation import TemplateSpec, contour_seg
from arabic_ocr_spark.sources.glyphs import ALPHABET, compose_paragraph, render_word
from arabic_ocr_spark.sources.synth import default_model_path, rotate_page


def _outcome(fn, *args):
    try:
        return "ok", fn(*args)
    except Exception as exc:  # noqa: BLE001 - the exception type is the outcome
        return "raise", type(exc)


def _uncached_contour_cuts(image, cnt, baseline_org):
    """The per-contour body on the whole word raster, as without the memo."""
    x, y = cnt[:, 0], cnt[:, 1]
    img_cnt = np.zeros(image.shape, np.uint8)
    img_cnt[y, x] = image[y, x]
    return segmentation._contour_cuts(img_cnt, x, y, baseline_org)


@pytest.fixture
def cold_memos():
    features.CHAR_MEMO.clear()
    segmentation.CONTOUR_MEMO.clear()
    yield
    features.CHAR_MEMO.clear()
    segmentation.CONTOUR_MEMO.clear()


def test_memoized_equals_uncached_on_synth_pages(monkeypatch, cold_memos):
    """Every character slice and every contour the pipeline produces for a
    seeded page set (straight and rotated), first with cold memos and then
    again with warm ones."""
    memo_char, memo_cuts = features.recognize_char, segmentation._memo_contour_cuts
    checked = {"slices": 0, "contours": 0}

    def checked_char(img):
        got = _outcome(memo_char, img)
        assert got == _outcome(features._recognize_char, img), img.shape
        checked["slices"] += 1
        return memo_char(img)

    def checked_cuts(image, cnt, baseline_org):
        got = _outcome(memo_cuts, image, cnt, baseline_org)
        assert got == _outcome(_uncached_contour_cuts, image, cnt, baseline_org)
        checked["contours"] += 1
        return memo_cuts(image, cnt, baseline_org)

    monkeypatch.setattr(features, "recognize_char", checked_char)
    monkeypatch.setattr(segmentation, "_memo_contour_cuts", checked_cuts)
    rng = np.random.default_rng(11)
    pages = []
    for i in range(8):
        img, _true, _lines = compose_paragraph(rng, int(rng.integers(3, 8)), 190)
        pages.append(rotate_page(img, float(rng.uniform(-3.0, 3.0))) if i % 2 else img)
    model = CharModel.load(default_model_path())
    texts = [[extract_page(p, model).text for p in pages] for _ in range(2)]
    assert texts[0] == texts[1] and all(texts[0])
    assert checked["slices"] > 1000 and checked["contours"] > 300
    assert features.CHAR_MEMO.hits > 0 and segmentation.CONTOUR_MEMO.hits > 0


small_words = arrays(np.uint8, st.tuples(st.integers(3, 14), st.integers(3, 20)),
                     elements=st.sampled_from([0, 255]))


@given(small_words, st.data())
@settings(max_examples=300, deadline=None)
def test_memoized_contour_cuts_equal_uncached_on_random_words(word, data):
    """Noise words reach the edge cases: contours clipped at either edge,
    baselines at row 0, and leftover -1 cuts."""
    baseline_org = data.draw(st.integers(0, word.shape[0] - 1))
    for cnt in find_external_contours(word):
        if contour_area(cnt) < 1:
            continue
        want = _outcome(_uncached_contour_cuts, word, cnt, baseline_org)
        for _ in range(2):  # a miss, then a hit
            assert _outcome(segmentation._memo_contour_cuts, word, cnt, baseline_org) == want


def _glyph_word(text: str) -> np.ndarray:
    """A rendered word as the pipeline sees it: ink 255, one blank column
    on each side."""
    return np.pad(render_word(text), ((0, 0), (1, 1))) * np.uint8(255)


def _grid(rows: list[str]) -> np.ndarray:
    return np.array([[255 if c == "#" else 0 for c in r] for r in rows], np.uint8)


# words where one contour's cuts depend on what the memo key holds beyond
# its relative points (found by random search against the uncached body):
# a contour touching x = 0 cuts differently once a blank column is added on
# its left; one whose baseline lands on row 1 cuts differently once blank
# rows are added at the bottom; and one whose first two of four segment
# points are deleted reads its last-but-one cut up to the word's last
# column, so touching the right edge matters
_KEY_CASES = [
    ("touches x = 0", _grid([
        "..##......",
        ".#.#..#.#.",
        ".....#..##",
        "##.#..#.#.",
        "###...##..",
        "....###.#.",
        "#.###.#.#.",
        "..##...#.#",
        "#.#.#...##",
        "###......#",
    ]), 6, ((0, 0), (1, 0))),
    ("word height", _grid([
        ".##..#.#.#",
        "#..##....#",
        ".#...####.",
        ".##.....#.",
        "#....#....",
    ]), 1, ((0, 2), (0, 0))),
    ("touches the right edge", _grid(["." * 35] * 12 + [
        "..................................#",
        "..#...............................#",
        "..#...............................#",
        "###################################",
        "###################################",
        "......##.####.................#....",
        "......##.####.................#....",
        "......##.##........................",
        "...................................",
    ]), 14, ((0, 0), (0, 1))),
]


@pytest.mark.parametrize("case", _KEY_CASES, ids=[c[0] for c in _KEY_CASES])
def test_memo_key_separates_placements_that_cut_differently(case, cold_memos):
    name, word, baseline_org, pad = case
    variant = np.pad(word, pad)
    dx = pad[1][0]
    differs = False
    for first, second in ((word, variant), (variant, word)):
        segmentation.CONTOUR_MEMO.clear()
        for img in (first, second):
            for cnt in find_external_contours(img):
                if contour_area(cnt) < 1:
                    continue
                want = _outcome(_uncached_contour_cuts, img, cnt, baseline_org)
                assert _outcome(segmentation._memo_contour_cuts, img, cnt, baseline_org) == want, name
        shifted = [c + dx for c in contour_seg(word, baseline_org)]
        differs |= shifted != contour_seg(variant, baseline_org)
    assert differs, "the case no longer exercises its key component"


words_with_left_gap = st.one_of(
    small_words.map(lambda w: np.pad(w, ((0, 0), (1, 0)))),
    st.lists(st.sampled_from(ALPHABET), min_size=1, max_size=5).map(lambda cs: _glyph_word("".join(cs))),
)


@given(words_with_left_gap, st.integers(1, 40), st.booleans(), st.data())
@settings(max_examples=300, deadline=None)
def test_left_padding_shifts_cuts_by_exactly_k(word, k, cold, data):
    """A word whose first column is blank, padded on the left with k more
    blank columns, is cut at the same places shifted by k — computed from
    scratch (cold) and through the memo (the padded contours hit the
    entries the unpadded ones stored)."""
    baseline_org = data.draw(st.sampled_from([baseline_y(horizontal_projection(word)),
                                              data.draw(st.integers(0, word.shape[0] - 1))]))
    padded = np.pad(word, ((0, 0), (k, 0)))
    if cold:
        segmentation.CONTOUR_MEMO.clear()
    base = _outcome(contour_seg, word, baseline_org)
    if cold:
        segmentation.CONTOUR_MEMO.clear()
    shifted = _outcome(contour_seg, padded, baseline_org)
    if base[0] == "raise":
        assert shifted == base
    else:
        assert shifted == ("ok", [c + k for c in base[1]])


def test_raising_slice_raises_again(cold_memos):
    blank = np.zeros((12, 3), np.uint8)
    for _ in range(2):
        with pytest.raises(IndexError):
            features.recognize_char(blank)
    assert len(features.CHAR_MEMO) == 0
    assert features.CHAR_MEMO.misses == 2 and features.CHAR_MEMO.hits == 0


def test_slices_with_equal_bytes_and_different_shapes_do_not_collide(cold_memos):
    glyph = render_word(ALPHABET[0]) * np.uint8(255)
    h, w = glyph.shape
    for shape in ((h, w), (w, h), (h * w // 2, 2)):
        sl = glyph.reshape(shape) if h * w % 2 == 0 or shape[1] != 2 else glyph
        assert _outcome(features.recognize_char, sl) == _outcome(features._recognize_char, sl)
    assert features._recognize_char(glyph) != features._recognize_char(glyph.reshape(w, h))


def test_returned_feature_vector_is_a_fresh_copy(cold_memos):
    glyph = render_word(ALPHABET[0]) * np.uint8(255)
    first = features.recognize_char(glyph)
    want = list(first)
    first[0] = -999
    first.append("junk")
    again = features.recognize_char(glyph)
    assert features.CHAR_MEMO.hits == 1
    assert again == want == features._recognize_char(glyph)
    again.clear()
    assert features.recognize_char(glyph) == want


def test_many_distinct_keys_stay_within_the_byte_budget():
    memo = BoundedMemo(64 * 1024)
    rng = np.random.default_rng(3)
    sizes = rng.integers(0, 2000, size=2000)
    for i, n in enumerate(sizes.tolist()):
        memo.put(("k", i), [i], n)
        assert memo.used <= memo.budget
    assert memo.used == sum(cost for _v, cost in memo._entries.values())
    # eviction is in insertion order: what is left is the newest suffix
    kept = [key[1] for key in memo._entries]
    assert kept == list(range(len(sizes) - len(kept), len(sizes)))
    memo.put("huge", [0], memo.budget)  # larger than the whole budget
    assert memo.get("huge") is None and memo.used <= memo.budget


def test_char_memo_holds_its_budget_under_distinct_slices(monkeypatch, cold_memos):
    budget = 40 * (ENTRY_OVERHEAD + 10 * 16)  # forty 10x16 uint8 slices
    monkeypatch.setattr(features.CHAR_MEMO, "budget", budget)
    rng = np.random.default_rng(5)
    for _ in range(300):
        glyph = (rng.random((10, 16)) < 0.4).astype(np.uint8) * 255
        try:
            features.recognize_char(glyph)
        except IndexError:
            pass
        assert features.CHAR_MEMO.used <= budget
    assert 0 < len(features.CHAR_MEMO) <= 40


def test_templates_take_the_unmemoized_path(cold_memos):
    word = _glyph_word("abc")
    baseline = baseline_y(horizontal_projection(word))
    never = TemplateSpec("never", np.full((3, 3), 255, np.uint8), threshold=2.0)
    cuts = contour_seg(word, baseline, [never])
    memo = segmentation.CONTOUR_MEMO
    assert (memo.hits, memo.misses, len(memo)) == (0, 0, 0)
    assert cuts == contour_seg(word, baseline)
    assert memo.misses > 0
