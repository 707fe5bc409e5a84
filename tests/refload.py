"""Load individual REFERENCE modules for parity tests without importing
the full datasketch package (whose __init__ pulls optional deps like
scipy that this sandbox lacks). Without the reference checkout the calling
test skips; its golden twin still pins this package's own output."""

from __future__ import annotations

import importlib.util
import os
import sys
import types

import pytest

_REF_ROOT = "/root/reference/datasketch"

# module -> in-package deps that must load first
_DEPS = {
    "minhash": ["hashfunc"],
    "lean_minhash": ["hashfunc", "minhash"],
    "hyperloglog": ["hashfunc", "hyperloglog_const"],
    "b_bit_minhash": [],
    "lshensemble_partition": [],
}


def load_reference_module(name: str):
    if not os.path.isdir(_REF_ROOT):
        pytest.skip(f"reference checkout {_REF_ROOT} is absent")
    if "datasketch" not in sys.modules:
        pkg = types.ModuleType("datasketch")
        pkg.__path__ = [_REF_ROOT]
        sys.modules["datasketch"] = pkg
    for dep in [*_DEPS.get(name, []), name]:
        full = f"datasketch.{dep}"
        if full in sys.modules:
            continue
        spec = importlib.util.spec_from_file_location(full, f"{_REF_ROOT}/{dep}.py")
        mod = importlib.util.module_from_spec(spec)
        sys.modules[full] = mod
        spec.loader.exec_module(mod)
    return sys.modules[f"datasketch.{name}"]
