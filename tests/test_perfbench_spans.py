"""The benchmark's traced run (``perfbench/run.py --trace 1``) wraps
engine attributes by name; a refactor that renames one would otherwise
surface only as an ``AttributeError`` inside that run. No Spark needed:
the stub tracer only looks each attribute up."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _LookupTracer:
    def __init__(self) -> None:
        self.wrapped: list[tuple[object, str]] = []

    def wrap(self, owner, attr, *_args, **_kwargs) -> None:
        getattr(owner, attr)  # AttributeError names the renamed attribute
        self.wrapped.append((owner, attr))

    def install_py4j_counter(self) -> None:
        pass

    def install_thread_parenting(self) -> None:
        pass


def test_perfbench_span_targets_exist():
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(ROOT, "perfbench", "run.py")
    )
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    tracer = _LookupTracer()
    run.install_spans(tracer, None)
    attrs = {attr for _, attr in tracer.wrapped}
    assert {"apply_changes", "prepare_buckets", "spark_xxhash64_str"} <= attrs
