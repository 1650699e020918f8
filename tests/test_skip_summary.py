"""The terminal summary groups skipped tests by reason (``conftest.py``)."""

from __future__ import annotations

import types

from conftest import pytest_terminal_summary


class _Reporter:
    def __init__(self, skipped):
        self.stats = {"skipped": skipped}
        self.lines: list[str] = []

    def section(self, title, sep="=", **_kw):
        self.lines.append(f"== {title} ==")

    def write_line(self, line, **_kw):
        self.lines.append(line)


def _skip(reason):
    return types.SimpleNamespace(longrepr=("t.py", 1, f"Skipped: {reason}"))


def test_skips_are_counted_and_grouped_by_reason():
    rep = _Reporter(
        [_skip("no fixture tree"), _skip("no sf1"), _skip("no fixture tree")]
    )
    pytest_terminal_summary(rep)
    assert rep.lines == [
        "== 3 skipped ==",
        "   2  no fixture tree",
        "   1  no sf1",
    ]


def test_no_section_without_skips():
    rep = _Reporter([])
    pytest_terminal_summary(rep)
    assert rep.lines == []
