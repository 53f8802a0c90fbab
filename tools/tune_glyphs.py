"""Glyph alphabet design harness: verifies segmentation invariants and
cross-glyph feature-vector separability against the REAL pipeline.

Run: python tools/tune_glyphs.py
Checks (over randomized word/line contexts, seed=42):
  1. every word yields exactly len(word) feature vectors (no over/under-seg);
  2. no two glyphs ever produce an IDENTICAL feature vector (1-NN fatal);
  3. prints the per-glyph fv variant sets for inspection.
"""
import random
import sys

sys.path.insert(0, ".")
from arabic_ocr_spark.sources.glyphs import ALPHABET, compose_text_image  # noqa: E402
from arabic_ocr_spark.kernel.pipeline import iter_words, page_lines  # noqa: E402
from arabic_ocr_spark.kernel.features import batch_get_feat_vectors  # noqa: E402


def main() -> int:
    random.seed(42)
    fvs_by_glyph: dict[str, set] = {}
    misseg = total = exc = 0
    for _trial in range(150):
        lines, gt = [], []
        for _ in range(2):
            ws = ["".join(random.choice(ALPHABET) for _ in range(random.randint(3, 6)))
                  for _ in range(random.randint(1, 3))]
            lines.append(" ".join(ws))
            gt.extend(ws)
        img, _exp = compose_text_image(lines)
        wi = 0
        try:
            for w, cuts, _li in iter_words(page_lines(img, skip_deskew=True)):
                fvs = batch_get_feat_vectors(w, cuts)
                word = gt[wi]
                wi += 1
                total += 1
                if len(fvs) != len(word):
                    misseg += 1
                    print(f"MISSEG word={word} n_fvs={len(fvs)}")
                    continue
                for ch, fv in zip(reversed(word), fvs):
                    fvs_by_glyph.setdefault(ch, set()).add(tuple(float(x) for x in fv))
        except Exception as e:  # noqa: BLE001
            exc += 1
            print("PAGE EXC", repr(e))
    print(f"words={total} misseg={misseg} page_exc={exc}")
    print("variants:", {k: len(v) for k, v in sorted(fvs_by_glyph.items())})
    owner: dict[tuple, str] = {}
    collisions = set()
    for ch, vs in fvs_by_glyph.items():
        for v in vs:
            if v in owner and owner[v] != ch:
                collisions.add((min(ch, owner[v]), max(ch, owner[v]), v))
            owner[v] = ch
    for c in sorted(collisions):
        print("COLLISION", c)
    if not collisions and not misseg and not exc:
        print("OK")
        return 0
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
