"""scripts/plan_stub.py: the materialize_release pass-through used by
the plan tooling must leave no kmr_spark module holding the stub."""

import os
import sys
import types

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

import kmr_spark.session as sess
from plan_stub import passthrough_materialize


def test_module_imported_inside_the_block_is_restored():
    real = sess.materialize_release
    name = "kmr_spark._plan_stub_probe"
    try:
        with passthrough_materialize():
            assert sess.materialize_release is not real
            # stands in for a plan module first imported while stubbed
            mod = types.ModuleType(name)
            sys.modules[name] = mod
            exec("from kmr_spark.session import materialize_release",
                 mod.__dict__)
            assert mod.materialize_release is sess.materialize_release
        assert sess.materialize_release is real
        assert mod.materialize_release is real
    finally:
        sys.modules.pop(name, None)
