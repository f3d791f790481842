"""The shipped package is what spark-submit zips: it must not reach into
the test, oracle or benchmark trees, and the encoder twins that only build
test inputs live in ``fixtures/``, not in it."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "advanced_text_extraction_spark"
OUTSIDE = {"fixtures", "tests", "oracle", "perfbench", "bench"}
# the FAKE media container writer: synth_media, which the
# __spark_entry__ media queries run, builds its payloads with it
ALLOWED_ENCODERS = {"_encode_fake_image"}


def _modules():
    mods = sorted(PKG.rglob("*.py"))
    assert len(mods) > 20, mods
    for path in mods:
        yield path.relative_to(PKG.parent), ast.parse(path.read_text())


def test_package_imports_nothing_outside_it():
    bad = []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and not node.level:
                names = [node.module or ""]
            else:
                continue
            bad += [f"{rel}:{node.lineno} imports {n}" for n in names
                    if n.split(".")[0] in OUTSIDE]
    assert not bad, bad


def test_package_parses_html_without_the_stdlib_parser():
    """The HTML kernel is its own event scanner; the ``html.parser``-based
    implementation it replaced is a test reference only."""
    bad = []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                continue
            bad += [f"{rel}:{node.lineno}" for n in names
                    if n == "html.parser"]
    assert not bad, bad


def test_package_defines_no_encoders():
    bad = []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if (isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    and "encode" in node.name
                    and node.name not in ALLOWED_ENCODERS):
                bad.append(f"{rel}:{node.lineno} defines {node.name}")
    assert not bad, bad
