"""Every test module and engine module parses: a file with a syntax
error fails this test by itself, instead of only surfacing as a
collection error."""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
FILES = sorted(
    [*ROOT.joinpath("tests").glob("*.py"), *ROOT.joinpath("etl_stack_spark").rglob("*.py")]
)


def test_found_the_sources():
    assert len(FILES) > 50


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(ROOT)))
def test_parses(path):
    ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
