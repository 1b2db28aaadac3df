"""Shared tooling helper: build query plans with materialize_release
stubbed to a pass-through.

Queries that end in ``materialize_release`` return a localCheckpoint
scan: their ``explain`` shows zero parquet Locations, so plan tooling
(scan_audit, measure_queries --plans) would under-report exactly the
queries it polices — and building the frame EAGERLY executes the whole
query during what should be a plan-only step (ADVICE r11 #1).  The
stub returns the un-checkpointed plan instead; it must only ever be
used for ``explain``, never to execute the returned frame (the
exscan-offset validity caveats in operators/sort.py assume the real
materialization).

``materialize_release`` is imported both module-level and
function-local across kmr_spark, so the stub patches the session
module AND every already-imported kmr_spark module whose attribute is
the real function; on exit it restores every kmr_spark module holding
the stub, including modules first imported inside the block.
"""

from __future__ import annotations

import contextlib
import sys


@contextlib.contextmanager
def passthrough_materialize():
    import kmr_spark.session as sess

    real = sess.materialize_release

    def stub(out, *cached):
        return out

    def swap(old, new):
        for name, mod in list(sys.modules.items()):
            if (name.startswith("kmr_spark") and mod is not None
                    and getattr(mod, "materialize_release", None) is old):
                setattr(mod, "materialize_release", new)

    swap(real, stub)
    try:
        yield
    finally:
        # re-scan: a module first imported inside the block bound the
        # stub at import time and must get the real function back too
        swap(stub, real)
