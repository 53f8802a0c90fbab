"""Line, word and character segmentation (pure NumPy/Python).

Reproduces the reference's segmentation semantics stage by stage
(SURVEY.md §2.3-2.5; reference segment_words.py:15-75, :111-170 and
preprocess.py:245-475), including its quirks, which are part of the
observable extraction semantics:

- the first line-gap centre is skipped (top margin merges into line 1);
- a zero-run still open at the image edge never yields a gap;
- the word-gap threshold sorts gap widths by frequency (stable) before
  dedup, takes the top three, and uses min + floor(max/4);
- words are iterated right-to-left; the region left of the first separator
  is never emitted;
- character cuts merge per-contour baseline-run cuts, template-derived
  cuts, per-contour leftmost x, and sub-word gap centres (first dropped);
- contours with shoelace area < 1 terminate the (area-desc sorted) contour
  loop, so tiny diacritic components contribute no cuts;
- the empty-segment elimination removes only the FIRST eliminated cut.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .contours import contour_area, find_external_contours
from .imgops import (
    baseline_y,
    binarize,
    dilate3x3,
    horizontal_projection,
    most_frequent,
    vertical_projection,
    zero_run_gaps,
)
from .memo import BoundedMemo
from .ncc import template_match_points

__all__ = [
    "TemplateSpec",
    "distance_between_words",
    "segment_lines",
    "word_separators",
    "contour_seg",
]


@dataclass(frozen=True)
class TemplateSpec:
    """One suppression template (the reference hard-codes ten pattern PNGs
    with per-template thresholds and masking actions; we make the set a
    configuration so the engine works for any glyph alphabet).

    action: 'whiten'        -> img_cnt[:, p : p+w] = 255
            'whiten_inset'  -> img_cnt[:, p+3 : p+w-5] = 255
            'cut_after'     -> append cut at p + w
    """

    name: str
    image: np.ndarray  # binary uint8, ink = 255
    threshold: float
    action: str = "whiten"


def _unique_everseen(seq):
    seen = set()
    out = []
    for x in seq:
        if x not in seen:
            seen.add(x)
            out.append(x)
    return out


def distance_between_words(distances: list[int]) -> int:
    """Word-gap threshold (reference utils.py:42-60): drop first/last gap,
    stable sort by frequency desc, dedup preserving order, top three,
    min + floor(max/4).  Raises ValueError on fewer than three gaps, as the
    reference's min() of an empty list would."""
    inner = distances[1:-1]
    by_freq = sorted(inner, key=inner.count, reverse=True)
    top = _unique_everseen(by_freq)[:3]
    return min(top) + math.floor(max(top) / 4)


def segment_lines(image: np.ndarray) -> list[np.ndarray]:
    """Deskewed page -> list of line crops (reference segment_words.py:15-75):
    re-binarize, dilate 3x3, find zero-run gap centres of the horizontal
    projection, crop the UNDILATED image between successive centres skipping
    the first, final crop to the bottom edge."""
    h, _w = image.shape
    image = binarize(image)
    original = image
    dilated = dilate3x3(image)
    ycoords, _ = zero_run_gaps(horizontal_projection(dilated))

    lines: list[np.ndarray] = []
    prev = 0
    for i in range(len(ycoords)):
        if i == 0:
            continue
        yc = int(ycoords[i])
        lines.append(original[prev:yc, :])
        prev = yc
    lines.append(original[prev:h, :])
    return lines


def word_separators(line: np.ndarray) -> tuple[list[float], int]:
    """Line -> (word separator x centres in left-to-right order, baseline y).

    Gap centres whose gap width exceeds the frequency-derived threshold are
    word separators (reference segment_words.py:117-159).  The caller slices
    words right-to-left: word_i = line[:, int(sep[i]) : prev].
    """
    hp = horizontal_projection(line)
    baseline = baseline_y(hp)
    xcoords, distances = zero_run_gaps(vertical_projection(line))
    threshold = distance_between_words(distances)  # may raise ValueError
    seps = [x for x, d in zip(xcoords, distances) if d > threshold]
    return seps, baseline


def _plus_dilate(mask: np.ndarray) -> np.ndarray:
    """OR of the mask with its 4-neighbour shifts — the footprint of the
    reference's radius-1 filled circle drawn at every contour point on top
    of the 1-px contour polyline (preprocess.py:311, :325)."""
    out = mask.copy()
    out[1:, :] |= mask[:-1, :]
    out[:-1, :] |= mask[1:, :]
    out[:, 1:] |= mask[:, :-1]
    out[:, :-1] |= mask[:, 1:]
    return out


# one per worker process; a contour key is (word height, baseline_org,
# left-clipped, right-clipped, points relative to their minimum x, values)
CONTOUR_MEMO = BoundedMemo(2 << 20)
_INT16_MAX = np.iinfo(np.int16).max


def contour_seg(image: np.ndarray, baseline_org: int, templates: list[TemplateSpec] | None = None) -> list:
    """Word image -> ascending list of character cut x-positions
    (reference preprocess.py:272-475)."""
    character_indecies: list = []

    contours = find_external_contours(image)
    # areas computed once: the sort key and the loop's area cutoff share them
    with_area = sorted(((contour_area(c), i, c) for i, c in enumerate(contours)),
                       key=lambda t: (-t[0], t[1]))

    xcoords, _dists = zero_run_gaps(vertical_projection(image))
    xcoords = xcoords[1:]  # the first sub-word gap centre is dropped

    for area, _i, cnt in with_area:
        if area < 1:
            break
        if templates:
            # template matching reads the whole word raster: no memo
            img_cnt = np.zeros(image.shape, np.uint8)
            img_cnt[cnt[:, 1], cnt[:, 0]] = image[cnt[:, 1], cnt[:, 0]]
            character_indecies.extend(_contour_cuts(img_cnt, cnt[:, 0], cnt[:, 1], baseline_org, templates))
        else:
            character_indecies.extend(_memo_contour_cuts(image, cnt, baseline_org))

    character_indecies.extend(xcoords)
    character_indecies.sort()
    return character_indecies


def _memo_contour_cuts(image: np.ndarray, cnt: np.ndarray, baseline_org: int) -> list:
    """_contour_cuts of one contour without templates, memoized on what it
    reads.  Outside the contour's own points the contour raster is zero, so
    the cuts depend on the word only through its height, whether the
    contour touches x = 0 (where the drawn contour's footprint is clipped)
    and whether it touches the right edge (a leftover -1 cut slices up to
    the last column); the cuts of a contour translated along x shift with
    it.  The cuts are computed on a raster spanning the contour plus one
    column of margin on each side that is not an image edge."""
    h, w = image.shape
    x, y = cnt[:, 0], cnt[:, 1]
    x0, x1 = int(x.min()), int(x.max())
    left, right = x0 > 0, x1 < w - 1
    vals = image[y, x].astype(np.uint8, copy=False)
    key = cuts = None
    if max(h, x1 - x0) <= _INT16_MAX:  # larger words are computed, not stored
        rel = np.empty(cnt.shape, np.int16)
        rel[:, 0] = x - x0
        rel[:, 1] = y
        key = (h, baseline_org, left, right, rel.tobytes(), vals.tobytes())
        cuts = CONTOUR_MEMO.get(key)
    if cuts is None:
        rx = x - (x0 - left)
        img_cnt = np.zeros((h, x1 - x0 + 1 + left + right), np.uint8)
        img_cnt[y, rx] = vals
        cuts = _contour_cuts(img_cnt, rx, y, baseline_org)
        if key is not None:
            CONTOUR_MEMO.put(key, cuts, len(key[4]) + len(key[5]))
    return [c + x0 - left for c in cuts]


def _contour_cuts(img_cnt: np.ndarray, x_arr: np.ndarray, y_arr: np.ndarray, baseline_org: int,
                  templates: list[TemplateSpec] | None = None) -> list:
    """One contour's cuts in `img_cnt`'s x coordinates: its leftmost x,
    template cut-after positions, then the baseline-run segment points.
    img_cnt holds the image values at the contour points (x_arr, y_arr)
    and zero elsewhere; template whitening edits it in place."""
    # leftmost point's x (first minimum in point order)
    cuts = [int(x_arr[int(np.argmin(x_arr))])]

    baseline = int(most_frequent(y_arr))

    # template suppression: all matches computed on the pristine raster,
    # then whitening / extra cuts applied
    matches = [(spec, *template_match_points(img_cnt, spec.image, spec.threshold)) for spec in templates or ()]
    for spec, points, width in matches:
        if spec.action == "whiten":
            for p in points:
                img_cnt[:, p:p + width] = 255
        elif spec.action == "whiten_inset":
            for p in points:
                img_cnt[:, p + 3:p + width - 5] = 255
        elif spec.action == "cut_after":
            for p in points:
                cuts.append(p + width)

    # runs of >2 consecutive contour points with y in [baseline-1,
    # baseline+2] — vectorized run detection; a run still open at the
    # end of the point list is dropped, as in the reference's scan
    near = (
        (y_arr == baseline) | (y_arr == baseline - 1)
        | (y_arr == baseline + 1) | (y_arr == baseline + 2)
    ).astype(np.int8)
    dn = np.empty(near.shape, dtype=np.int8)
    dn[0] = near[0]
    np.subtract(near[1:], near[:-1], out=dn[1:])
    run_starts = np.flatnonzero(dn == 1)
    run_ends = np.flatnonzero(dn == -1)  # exclusive; unterminated run dropped
    run_starts = run_starts[: len(run_ends)]
    keep = (run_ends - run_starts) > 2
    point_positions = run_ends[keep]
    length_consective = (run_ends - run_starts)[keep]

    segment_points: list[int] = []
    baseline_local = baseline
    if abs(baseline - baseline_org) > 2:
        baseline_local = baseline_org

    above = img_cnt[int(baseline_local / 2):baseline_local - 1, :]
    below = img_cnt[baseline_local + 2:, :]
    col_clear = ~np.logical_or((above == 255).any(axis=0), (below == 255).any(axis=0))
    for i, ln in zip(point_positions.tolist(), length_consective.tolist()):
        sub_x = x_arr[i - ln:i]
        candidates = sub_x[col_clear[sub_x]]
        if len(candidates):
            segment_points.append(int(candidates[len(candidates) // 2]))

    if len(segment_points) < 1:
        return cuts

    segment_points.sort()
    delete_point = False
    for i in range(1, len(segment_points)):
        if (img_cnt[:baseline - 1, segment_points[i - 1]:segment_points[i]] == 0).all():
            delete_point = True
            segment_points[i - 1] = -1
    if delete_point:
        segment_points.remove(-1)  # only the first -1, as in the reference

    if len(segment_points) > 1:
        next_last_seg_point = segment_points[1]
    else:
        next_last_seg_point = img_cnt.shape[1]
    last_seg_point = segment_points[0]
    last_seg_hp = horizontal_projection(img_cnt[:baseline, last_seg_point:next_last_seg_point])
    first_non_zero_index = int((last_seg_hp != 0).argmax())

    # the drawn/thickened contour, built only here: the trailing-glyph
    # heuristic is its sole consumer and most contours exit earlier
    cnt_mask = np.zeros(img_cnt.shape, dtype=bool)
    cnt_mask[y_arr, x_arr] = True
    img_drawn = _plus_dilate(cnt_mask)

    if (
        (first_non_zero_index / last_seg_hp.shape[0]) < 0.85
        and (last_seg_hp[first_non_zero_index:] != 0).all()
        and (img_drawn[baseline - 1:baseline + 2, 0:last_seg_point]).any()
        and not (img_drawn[0:baseline - 2, 0:last_seg_point]).any()
        and not (img_drawn[baseline + 3:, 0:last_seg_point]).any()
    ):
        segment_points = segment_points[1:]  # trailing open glyph: drop first cut

    cuts.extend(p for p in segment_points if p != -1)
    return cuts
