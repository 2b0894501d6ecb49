"""Span bookkeeping with a fake SparkContext and a scripted CPU reading."""

import json
import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import procstat  # noqa: E402
import spans  # noqa: E402


class FakeSc:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)


def scripted(values):
    it = iter(values)
    return lambda: next(it)


def test_nested_spans_self_time_parent_and_job_groups(tmp_path):
    sc = FakeSc()
    # clock: t0, outer start, inner start, inner end, outer end
    clock = scripted([0.0, 1.0, 2.0, 5.0, 6.0])
    cpu = iter([10.0, 11.0, 15.0, 17.0])  # outer u0, inner u0, inner u1, outer u1
    usage = lambda pid: procstat.TreeUsage(next(cpu), 0.0, 0.0, 1)  # noqa: E731
    tr = spans.Tracer(sc, 1, "w", usage=usage, clock=clock)
    with tr.span("pipeline.stages") as outer:
        with tr.span("blocking.fps") as inner:
            assert sc.groups[-1] == inner.group
        assert sc.groups[-1] == outer.group  # restored to the parent
    assert sc.groups[-1] == spans.UNTRACED_GROUP
    tr.finish()
    assert inner.parent == outer.id and outer.parent is None
    assert (outer.wall_s, inner.wall_s) == (5.0, 3.0)
    assert outer.self_wall_s == 2.0 and inner.self_wall_s == 3.0
    assert (outer.cpu_s, inner.cpu_s) == (7.0, 4.0)
    assert outer.self_cpu_s == 3.0
    tr.write(str(tmp_path / "s.json"), {"seed": 7})
    out = json.loads((tmp_path / "s.json").read_text())
    assert (out["seed"], out["workload"]) == (7, "w")
    rec = out["spans"]
    assert [r["name"] for r in rec] == ["pipeline.stages", "blocking.fps"]
    assert rec[1]["parent"] == rec[0]["id"] and rec[1]["workload"] == "w"


def test_instrumented_wraps_and_restores():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tr = spans.Tracer(FakeSc(), 1, "w",
                      usage=lambda pid: procstat.TreeUsage(0.0, 0.0, 0.0, 1))
    target = spans.Target(mod, "f", "layer", rows=lambda args, out: out)
    with spans.instrumented(tr, [target]):
        assert mod.f(41) == 42
    assert mod.f is orig
    assert [(s.name, s.rows_out) for s in tr.spans] == [("layer", 42)]
