"""The traced benchmark (`perfbench/run.py --trace 1`) wraps package
functions by name (`perfbench/layers.install_shims`). A renamed or deleted
target would break the traced run; this pins that every target exists."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


class _StubTracer:
    """Records the shims instead of installing them."""

    def __init__(self):
        self.targets = []

    def shim(self, owner, attr, name, on_result=None):
        self.targets.append((owner, attr, name))


def test_every_perfbench_shim_target_exists():
    sys.path.insert(0, str(REPO / "perfbench"))
    try:
        import layers
    finally:
        sys.path.remove(str(REPO / "perfbench"))

    stub = _StubTracer()
    layers.install_shims(stub)
    assert stub.targets
    missing = [
        f"{getattr(owner, '__name__', owner)}.{attr} ({name})"
        for owner, attr, name in stub.targets
        if not callable(getattr(owner, attr, None))
    ]
    assert not missing, f"perfbench shims name missing targets: {missing}"
