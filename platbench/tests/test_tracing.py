"""Unit tests of the tracer: self time, and wrapping at by-name import
sites. No Spark needed."""

from __future__ import annotations

import sys
import textwrap
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pbench.tracing import Tracer, install  # noqa: E402


def _span(tracer, name, start, end, parent):
    tracer.spans.append((name, start, end, parent, 0))
    return len(tracer.spans) - 1


def test_self_time_subtracts_children():
    t = Tracer()
    root = _span(t, "root", 0.0, 10.0, -1)
    _span(t, "a", 1.0, 3.0, root)
    _span(t, "b", 5.0, 6.5, root)
    assert t.self_times() == [10.0 - 2.0 - 1.5, 2.0, 1.5]


def test_self_time_counts_overlapping_children_once():
    t = Tracer()
    root = _span(t, "root", 0.0, 10.0, -1)
    _span(t, "a", 1.0, 4.0, root)
    _span(t, "b", 3.0, 5.0, root)  # overlaps a: union is [1, 5]
    _span(t, "c", 9.0, 12.0, root)  # clipped to the parent: [9, 10]
    assert t.self_times()[0] == 10.0 - 4.0 - 1.0


def test_summary_folds_by_name():
    t = Tracer()
    root = _span(t, "root", 0.0, 4.0, -1)
    _span(t, "leaf", 0.0, 1.0, root)
    _span(t, "leaf", 2.0, 3.0, root)
    s = t.summary()
    assert s["leaf"]["calls"] == 2
    assert s["leaf"]["total_s"] == 2.0
    assert s["root"]["self_s"] == 2.0


def test_nested_spans_record_parents():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    (outer, _, _, p0, _), (inner, _, _, p1, _) = t.spans
    assert (outer, p0, inner, p1) == ("outer", -1, "inner", 0)
    assert t.self_times()[0] <= t.spans[0][2] - t.spans[0][1]


def test_install_wraps_every_by_name_import_site(tmp_path, monkeypatch):
    pkg = tmp_path / "tracedpkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "defs.py").write_text(textwrap.dedent("""
        def work(x):
            return x + 1

        class Box:
            def get(self):
                return work(1)
    """))
    (pkg / "user.py").write_text(textwrap.dedent("""
        from tracedpkg.defs import work

        def call():
            return work(41)
    """))
    monkeypatch.syspath_prepend(str(tmp_path))
    t = Tracer()
    names = install(
        t,
        {"w": ("defs", "work"), "g": ("defs", "Box.get")},
        package="tracedpkg",
    )
    assert names == ["w", "g"]
    import tracedpkg.defs as defs
    import tracedpkg.user as user

    assert user.call() == 42
    assert defs.Box().get() == 2
    calls = {n: d["calls"] for n, d in t.summary().items()}
    assert calls == {"w": 2, "g": 1}
    # the nested call through the module global is a child of the method
    g = next(i for i, s in enumerate(t.spans) if s[0] == "g")
    assert t.spans[g + 1][3] == g
    for mod in ("tracedpkg", "tracedpkg.defs", "tracedpkg.user"):
        sys.modules.pop(mod, None)
