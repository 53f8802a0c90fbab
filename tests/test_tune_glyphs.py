"""The glyph alphabet's design invariants (tools/tune_glyphs.py) through the
real segmentation and feature pipeline: no word over- or under-segmented,
one feature vector per glyph, no two glyphs sharing a vector."""

import importlib.util
import os

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "tune_glyphs.py")


def test_tune_glyphs_is_ok(capsys):
    spec = importlib.util.spec_from_file_location("tune_glyphs", TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    assert tool.main() == 0, capsys.readouterr().out[-2000:]
