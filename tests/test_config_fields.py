"""Every ``PipelineConfig`` field is read by the code it configures.

A field that no code outside ``config.py`` reads is a knob that selects
nothing: it still changes ``config_hash`` (so setting it discards every
checkpoint) but no output. This test walks the package with ``ast`` and
names each such field, so it is wired in or deleted. No Spark needed.
"""

from __future__ import annotations

import ast
from dataclasses import fields
from pathlib import Path

from autovalidate_backend_api_spark.config import PipelineConfig

PKG = Path(__file__).resolve().parent.parent / "autovalidate_backend_api_spark"


def _attributes_read() -> set[str]:
    """Every ``x.name`` loaded in a package module other than config.py."""
    names: set[str] = set()
    for path in PKG.rglob("*.py"):
        if path == PKG / "config.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                names.add(node.attr)
    return names


def test_every_config_field_is_read():
    read = _attributes_read()
    unread = [f.name for f in fields(PipelineConfig) if f.name not in read]
    assert not unread, f"PipelineConfig fields no code reads: {unread}"
