import types

from tracer import Tracer


class FakeContext:
    def __init__(self):
        self.group = None

    def setJobGroup(self, gid, desc):
        self.group = gid

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


def make():
    sc = FakeContext()
    return Tracer(types.SimpleNamespace(sparkContext=sc)), sc


def test_nested_spans_set_and_restore_the_job_group():
    tr, sc = make()
    with tr.span("pass", "bench") as outer:
        assert sc.group == outer["id"]
        with tr.span("storage.write_day", "storage") as inner:
            assert sc.group == inner["id"]
        assert sc.group == outer["id"]
    assert sc.group is None
    assert inner["parent"] == outer["id"]
    assert inner["op"] == outer["op"] == outer["id"]
    assert tr.descendants(outer["id"]) == {outer["id"], inner["id"]}
    assert 0 <= tr.self_time(outer) <= outer["end"] - outer["start"]
    assert 0 < tr.overhead_s <= outer["end"] - outer["start"]


def test_patch_wraps_module_names_and_instance_methods_until_unpatched():
    tr, _ = make()

    class Store:
        def write(self, x):
            return x * 2

    module = types.SimpleNamespace(build=lambda x: x + 1)
    store = Store()
    tr.patch(module, "build", "warehouse.build", "warehouse")
    tr.patch(store, "write", "storage.write", "storage")
    assert module.build(1) == 2 and store.write(2) == 4
    assert [s["name"] for s in tr.spans] == ["warehouse.build", "storage.write"]
    tr.unpatch()
    assert "write" not in vars(store)  # the class method shows through again
    module.build(1)
    store.write(1)
    assert len(tr.spans) == 2
