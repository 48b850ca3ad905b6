import pytest

from tracing import Span, Tracer, layer_self_ms, self_times


def test_self_time_subtracts_direct_children():
    spans = [
        Span("engine.sql", 0.0, 10.0, None, 1),
        Span("dialect.rewrite", 1.0, 3.0, 0, 1),
        Span("sources.load", 4.0, 8.0, 0, 1),
        Span("sources.register_all", 5.0, 6.0, 2, 1),  # grandchild of the root
    ]
    assert self_times(spans) == pytest.approx([4.0, 2.0, 3.0, 1.0])


def test_overlapping_children_are_merged_and_clipped():
    spans = [
        Span("engine.sql", 0.0, 10.0, None, 1),
        Span("spark.action", 2.0, 6.0, 0, 1),
        Span("spark.action", 5.0, 12.0, 0, 1),  # overlaps and runs past the parent
    ]
    assert self_times(spans)[0] == pytest.approx(2.0)


def test_layer_self_ms_groups_by_prefix():
    spans = [
        Span("engine.sql", 0.0, 0.010, None, 1),
        Span("dialect.rewrite", 0.001, 0.003, 0, 1),
        Span("dialect.split_statements", 0.004, 0.005, 0, 1),
    ]
    out = layer_self_ms(spans)
    assert out["engine"] == pytest.approx(7.0)
    assert out["dialect"] == pytest.approx(3.0)


def test_wrap_records_nested_spans_and_restores():
    class Thing:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 41

    tr = Tracer()
    tr.wrap(Thing, "outer", "engine.outer")
    tr.wrap(Thing, "inner", "sources.inner")
    tr.op = 7
    assert Thing().outer() == 42
    assert [s.name for s in tr.spans] == ["engine.outer", "sources.inner"]
    assert tr.spans[1].parent == 0 and tr.spans[0].op == 7
    assert tr.counts["sources.inner"] == 1
    tr.uninstall()
    assert Thing.__dict__["outer"].__qualname__.endswith("Thing.outer")
