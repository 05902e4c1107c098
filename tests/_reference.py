"""Import the reference library (read-only at /root/reference) for golden tests.

The container lacks scipy and joblib, so we shim them before import:
- ``scipy.stats.norm.cdf`` -> the math.erf identity (mathematically equal);
- ``joblib.Parallel``/``delayed`` -> a serial executor.

Used ONLY to generate golden expectations in tests; nothing from the
reference ships in the engine.
"""

from __future__ import annotations

import math
import sys
import types

import numpy as np


def _shim_module(name: str) -> types.ModuleType:
    """A stub module with a real ModuleSpec: ``importlib.util.find_spec``
    (called by pyspark.testing.utils at import) raises ValueError on
    sys.modules entries whose ``__spec__`` is None."""
    import importlib.machinery

    mod = types.ModuleType(name)
    mod.__spec__ = importlib.machinery.ModuleSpec(name, loader=None)
    mod.__version__ = "0.0.0-shim"
    return mod


def _install_shims() -> None:
    if "scipy" not in sys.modules:
        scipy = _shim_module("scipy")
        stats = _shim_module("scipy.stats")

        class _Norm:
            @staticmethod
            def cdf(z):
                z = np.asarray(z, dtype=np.float64)
                out = np.empty_like(z)
                it = np.nditer(z, flags=["multi_index"])
                for x in it:
                    xv = float(x)
                    if math.isnan(xv):
                        out[it.multi_index] = math.nan
                    elif math.isinf(xv):
                        out[it.multi_index] = 1.0 if xv > 0 else 0.0
                    else:
                        out[it.multi_index] = 0.5 * (1.0 + math.erf(xv / math.sqrt(2.0)))
                return out if out.ndim else float(out)

        stats.norm = _Norm()
        scipy.stats = stats
        sys.modules["scipy"] = scipy
        sys.modules["scipy.stats"] = stats

    if "joblib" not in sys.modules:
        joblib = _shim_module("joblib")

        class _Parallel:
            def __init__(self, *args, **kwargs):
                pass

            def __call__(self, tasks):
                return [fn(*a, **kw) for fn, a, kw in tasks]

        def _delayed(fn):
            def wrap(*a, **kw):
                return fn, a, kw

            return wrap

        joblib.Parallel = _Parallel
        joblib.delayed = _delayed
        sys.modules["joblib"] = joblib


#: skip reason of every reference-parity test; conftest counts it in the summary
REFERENCE_SKIP = "reference library not available"


def load_reference():
    """Return the reference ``binning`` module, or None if unavailable."""
    _install_shims()
    if "/root/reference" not in sys.path:
        sys.path.insert(0, "/root/reference")
    try:
        from woe_monotonic_binning import binning  # type: ignore

        return binning
    except Exception:
        return None
