"""Template-suppression e2e (SURVEY.md §2.5): NCC matches drive whitening
(suppressing spurious baseline-run cuts inside the matched span) and
cut-after insertion, wired through contour_seg's TemplateSpec config."""

import numpy as np

from arabic_ocr_spark.kernel.segmentation import TemplateSpec, contour_seg


def _comb_word():
    """A word image with a comb-like glyph whose teeth produce baseline-run
    cuts, plus margins so the sub-word scan behaves."""
    img = np.zeros((12, 30), dtype=np.uint8)
    # teeth at cols 6,8,10,12,14 on a 1-px base row (baseline at row 9)
    for x in (6, 8, 10, 12, 14):
        img[5:9, x] = 255
    img[9, 5:16] = 255
    return img


def test_whiten_suppresses_internal_cuts():
    img = _comb_word()
    base_cuts = contour_seg(img, 9)
    # teeth gaps generate internal segment cuts without suppression
    internal = [c for c in base_cuts if isinstance(c, int) and 6 < c < 15]
    assert internal, "fixture must over-segment without templates"

    # template = one tooth period of the comb's contour raster
    tpl = np.zeros((6, 3), dtype=np.uint8)
    tpl[0:4, 0] = 255
    tpl[4, 0:3] = 255
    spec = TemplateSpec("comb", tpl, threshold=0.5, action="whiten")
    cuts = contour_seg(img, 9, [spec])
    internal_after = [c for c in cuts if isinstance(c, int) and 6 < c < 15]
    assert len(internal_after) < len(internal)


def test_cut_after_adds_cut():
    img = _comb_word()
    tpl = np.zeros((6, 3), dtype=np.uint8)
    tpl[0:4, 0] = 255
    tpl[4, 0:3] = 255
    spec = TemplateSpec("ya2ish", tpl, threshold=0.5, action="cut_after")
    cuts = contour_seg(img, 9, [spec])
    base = contour_seg(img, 9)
    assert len(cuts) > len(base)
    added = sorted(set(cuts) - set(base))
    # added cuts are match position + template width
    assert all(isinstance(c, int) for c in added)


def test_whiten_inset_action_runs():
    img = _comb_word()
    tpl = np.zeros((6, 10), dtype=np.uint8)
    tpl[0:4, 1] = 255
    tpl[4, 1:9] = 255
    spec = TemplateSpec("mid", tpl, threshold=0.3, action="whiten_inset")
    cuts = contour_seg(img, 9, [spec])
    assert cuts == sorted(cuts)


def test_iter_words_passes_templates_to_contour_seg():
    """Training and the glyph harness segment through the same word loop
    as extraction, templates included."""
    from arabic_ocr_spark.kernel.contours import find_external_contours
    from arabic_ocr_spark.kernel.pipeline import iter_words, page_lines
    from arabic_ocr_spark.sources.glyphs import compose_text_image

    img, _ = compose_text_image(["abc def"])
    lines = page_lines(img, skip_deskew=True)
    plain = list(iter_words(lines))
    word = plain[0][0]
    # a cut-after template cut from the word's largest contour raster
    cnt = max(find_external_contours(word), key=len)
    raster = np.zeros(word.shape, np.uint8)
    raster[cnt[:, 1], cnt[:, 0]] = 255
    x0 = int(cnt[:, 0].min())
    spec = TemplateSpec("first", raster[:, x0:x0 + 5], threshold=0.99, action="cut_after")
    templated = list(iter_words(lines, [spec]))
    assert len(templated) == len(plain)
    assert [c for _w, c, _l in templated][0] == sorted(plain[0][1] + [x0 + 5])


def test_reference_template_table_pinned():
    """The reference's exact (name, threshold, action) tuning table
    (preprocess.py:329-394) is preserved as data and binds to any
    alphabet's images in the reference's match order."""
    import numpy as np

    from arabic_ocr_spark.kernel.reference_templates import (
        REFERENCE_TEMPLATE_TABLE,
        build_specs,
    )

    enabled = [(n, t, a) for n, t, a, e in REFERENCE_TEMPLATE_TABLE if e]
    assert len(REFERENCE_TEMPLATE_TABLE) == 13
    assert len(enabled) == 10  # the reference actively matches ten
    assert ("seen_mid", 0.80, "whiten_inset") in enabled
    assert ("ya2_end", 0.75, "cut_after") in enabled
    assert sum(1 for _n, _t, a in enabled if a == "whiten") == 8

    comb = np.zeros((8, 6), dtype=np.uint8)
    comb[2:6, 1:5] = 255
    specs = build_specs({"kaf": comb, "ya2_end": comb, "nonexistent": comb})
    assert [s.name for s in specs] == ["kaf", "ya2_end"]  # reference order
    assert specs[0].threshold == 0.70 and specs[1].action == "cut_after"
