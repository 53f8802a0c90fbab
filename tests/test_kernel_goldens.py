"""Extraction goldens pinned from a fixed kernel revision.

The synth goldens and the benchmark's oracle are both produced by the code
under test, so a change that alters extraction (a wrong memo key, a drifted
word loop) passes them.  This test extracts a fixed seeded page set and
compares every result with `fixtures/kernel_goldens.json`, which was
captured once, before the glyph/sub-word memos existed, by

    python tests/test_kernel_goldens.py > tests/fixtures/kernel_goldens.json

Regenerate it only for a deliberate semantic change of the kernel, together
with the model artifact, the synth goldens and the reference-page pins.
"""

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arabic_ocr_spark.kernel.classifier import CharModel  # noqa: E402
from arabic_ocr_spark.kernel.pipeline import extract_page  # noqa: E402
from arabic_ocr_spark.sources.glyphs import compose_paragraph, compose_text_image  # noqa: E402
from arabic_ocr_spark.sources.synth import default_model_path, rotate_page  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "kernel_goldens.json")


def golden_pages() -> list:
    """40 synth paragraphs (every third one rotated by up to ±3°), then the
    edge cases: no payload, an all-white page, a one-word page and noise."""
    rng = np.random.default_rng(20261017)
    pages = []
    for i in range(40):
        img, _true, _lines = compose_paragraph(rng, int(rng.integers(3, 8)), 190)
        if i % 3 == 2:
            img = rotate_page(img, float(rng.uniform(-3.0, 3.0)))
        pages.append(img)
    pages.append(None)
    pages.append(np.full((40, 80), 255, np.uint8))
    pages.append(compose_text_image(["abc"])[0])
    pages.append(rng.integers(0, 256, size=(48, 96)).astype(np.uint8))
    return pages


def extract_all(model) -> list:
    return [
        [r.text, r.n_lines, r.n_words, r.ok, r.err]
        for r in (extract_page(p, model) for p in golden_pages())
    ]


def test_extraction_matches_pinned_goldens():
    with open(FIXTURE, encoding="utf-8") as f:
        pinned = json.load(f)
    model = CharModel.load(default_model_path())
    # twice: the second pass finds every glyph and sub-word in the memos
    for _ in range(2):
        got = extract_all(model)
        assert len(got) == len(pinned)
        for i, (g, p) in enumerate(zip(got, pinned)):
            assert g == p, (i, g, p)
    assert sum(ok for _t, _l, _w, ok, _e in pinned) >= 40  # the set exercises extraction


if __name__ == "__main__":
    print(json.dumps(extract_all(CharModel.load(default_model_path())), ensure_ascii=False, indent=0))
