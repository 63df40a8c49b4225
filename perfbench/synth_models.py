"""Synthetic forecast artifacts in the reference's on-disk format.

The forecast route loads two pickles per symbol:

- ``{SYM}_scaler.pkl``: a joblib dump of a fitted sklearn MinMaxScaler.
  Its arrays are joblib ``NumpyArrayWrapper`` records whose raw bytes
  follow the record's BUILD opcode in the pickle stream.
- ``{SYM}_xgboost_model.pkl``: a pickled ``XGBRegressor`` whose
  ``_Booster`` state is ``{"handle": bytearray(<UBJSON model>)}``.

Neither sklearn, joblib nor xgboost is needed to write them: a
pure-Python pickler writes the class references by name and splices in
the array bytes the way joblib does. The trees are random but fixed by
the seed, and :func:`replay_forecast` evaluates them with plain numpy,
independently of the system's decoder, so forecasts can be checked.
"""

from __future__ import annotations

import io
import os
import pickle
import struct
from dataclasses import dataclass

import numpy as np

_ALIGN = 16


class _Named:
    """Instances pickle as the class named by ``GLOBAL``."""

    GLOBAL = ("", "")

    def __init__(self, state: dict):
        self.__dict__.update(state)


class _Scaler(_Named):
    GLOBAL = ("sklearn.preprocessing._data", "MinMaxScaler")


class _ArrayWrapper(_Named):
    GLOBAL = ("joblib.numpy_pickle", "NumpyArrayWrapper")


class _Regressor(_Named):
    GLOBAL = ("xgboost.sklearn", "XGBRegressor")


class _Booster(_Named):
    GLOBAL = ("xgboost.core", "Booster")


class _JoblibPickler(pickle._Pickler):  # noqa: SLF001 (pure-Python pickler: save is overridable)
    """Protocol-3 pickler that names the stand-in classes by their
    library paths and writes ndarrays in joblib's wrapper format."""

    def __init__(self, f):
        super().__init__(f, protocol=3, fix_imports=False)
        self.f = f

    def save_global(self, obj, name=None):
        if isinstance(obj, type) and issubclass(obj, _Named):
            module, qual = obj.GLOBAL
            self.write(pickle.GLOBAL + f"{module}\n{qual}\n".encode())
            self.memoize(obj)
            return
        super().save_global(obj, name)

    def save(self, obj, save_persistent_id=True):
        if isinstance(obj, np.ndarray):
            arr = np.ascontiguousarray(obj)
            super().save(_ArrayWrapper({
                "subclass": np.ndarray, "shape": arr.shape, "order": "C",
                "dtype": arr.dtype, "allow_mmap": False,
                "numpy_array_alignment_bytes": _ALIGN,
            }))
            # joblib: one length byte, padding to the alignment, then data
            pad = _ALIGN - (self.f.tell() + 1) % _ALIGN
            self.f.write(bytes([pad]) + b"\xff" * pad + arr.tobytes())
            return
        super().save(obj, save_persistent_id)


def _dump(obj, path: str) -> None:
    buf = io.BytesIO()
    _JoblibPickler(buf).dump(obj)
    with open(path, "wb") as f:
        f.write(buf.getvalue())


# -- UBJSON (draft 12, the framing xgboost uses for its model buffer) ------

def _ub_len(n: int) -> bytes:
    return b"U" + bytes([n]) if n < 256 else b"l" + struct.pack(">i", n)


def _ub(v) -> bytes:
    if isinstance(v, dict):
        out = b"{"
        for k, x in v.items():
            kb = k.encode()
            out += _ub_len(len(kb)) + kb + _ub(x)
        return out + b"}"
    if isinstance(v, np.ndarray):
        code, fmt = {"i": (b"l", ">i4"), "u": (b"U", "u1"), "f": (b"d", ">f4")}[v.dtype.kind]
        return b"[$" + code + b"#" + _ub_len(len(v)) + v.astype(fmt).tobytes()
    if isinstance(v, list):
        return b"[" + b"".join(_ub(x) for x in v) + b"]"
    if isinstance(v, str):
        b = v.encode()
        return b"S" + _ub_len(len(b)) + b
    if isinstance(v, bool):
        return b"T" if v else b"F"
    if isinstance(v, int):
        return b"L" + struct.pack(">q", v)
    if isinstance(v, float):
        return b"D" + struct.pack(">d", v)
    raise TypeError(type(v))


@dataclass
class SynthTree:
    """xgboost tree arrays; a node is a leaf when ``left[i] == -1`` and
    then ``cond[i]`` is its output value."""

    left: np.ndarray
    right: np.ndarray
    feature: np.ndarray
    cond: np.ndarray
    default_left: np.ndarray


def random_trees(rng: np.random.Generator, n_trees: int, depth: int, k: int) -> list[SynthTree]:
    """Complete binary trees splitting random features at thresholds in
    the scaler's [0, 1] range. Leaf values are float32-exact."""
    trees = []
    n_inner = 2 ** depth - 1
    n = 2 ** (depth + 1) - 1
    for _ in range(n_trees):
        idx = np.arange(n)
        inner = idx < n_inner
        left = np.where(inner, 2 * idx + 1, -1).astype(np.int32)
        right = np.where(inner, 2 * idx + 2, -1).astype(np.int32)
        feature = np.where(inner, rng.integers(0, k, n), 0).astype(np.int32)
        leaf_val = rng.normal(0.0, 0.02, n)
        cond = np.where(inner, rng.uniform(0.2, 0.8, n), leaf_val).astype(np.float32)
        default_left = rng.integers(0, 2, n).astype(np.uint8)
        trees.append(SynthTree(left, right, feature, cond, default_left))
    return trees


def naive_predict(trees: list[SynthTree], base: float, x: np.ndarray) -> float:
    """Walk every tree node by node (xgboost: go left when x < cond)."""
    total = base
    for t in trees:
        i = 0
        while t.left[i] != -1:
            v = x[t.feature[i]]
            go_left = bool(t.default_left[i]) if np.isnan(v) else v < float(t.cond[i])
            i = int(t.left[i] if go_left else t.right[i])
        total += float(t.cond[i])
    return total


@dataclass
class SynthModel:
    k: int
    base: float
    trees: list[SynthTree]
    data_min: float
    data_max: float


def replay_forecast(m: SynthModel, closes: list[float], steps: int = 24) -> list[float]:
    """The reference loop in plain numpy: scale the window, predict in
    scaled space, append the scaled prediction, unscale the output."""
    scale = 1.0 / (m.data_max - m.data_min)
    mn = -m.data_min * scale
    w = np.asarray(closes, dtype=np.float64) * scale + mn
    out = []
    for _ in range(steps):
        p = naive_predict(m.trees, m.base, w)
        out.append((p - mn) / scale)
        w = np.append(w[1:], p)
    return out


def make_model(seed: int, k: int, data_min: float, data_max: float) -> SynthModel:
    rng = np.random.default_rng(seed)
    return SynthModel(k, 0.5, random_trees(rng, n_trees=20, depth=3, k=k), data_min, data_max)


def write_artifacts(out_dir: str, sym: str, m: SynthModel) -> None:
    """Write ``{sym}_scaler.pkl`` and ``{sym}_xgboost_model.pkl``."""
    os.makedirs(out_dir, exist_ok=True)
    lo, hi = np.array([m.data_min]), np.array([m.data_max])
    scale = 1.0 / (hi - lo)
    _dump(_Scaler({
        "feature_range": (0, 1), "copy": True, "clip": False,
        "n_features_in_": 1, "n_samples_seen_": 1000,
        "scale_": scale, "min_": -lo * scale, "data_min_": lo,
        "data_max_": hi, "data_range_": hi - lo, "_sklearn_version": "1.4.2",
    }), os.path.join(out_dir, f"{sym}_scaler.pkl"))
    trees = [
        {
            "left_children": t.left, "right_children": t.right,
            "split_indices": t.feature, "split_conditions": t.cond,
            "default_left": t.default_left,
            "tree_param": {"num_nodes": str(len(t.left)), "num_feature": str(m.k)},
        }
        for t in m.trees
    ]
    doc = {
        "Config": {"learner": {"objective": {"name": "reg:squarederror"}}},
        "Model": {
            "learner": {
                "learner_model_param": {
                    "base_score": repr(m.base), "num_feature": str(m.k),
                    "num_class": "0", "num_target": "1",
                },
                "objective": {"name": "reg:squarederror"},
                "gradient_booster": {
                    "name": "gbtree",
                    "model": {"trees": trees, "tree_info": np.zeros(len(trees), np.int32)},
                },
            },
            "version": [2, 0, 3],
        },
    }
    booster = _Booster({"handle": bytearray(_ub(doc))})
    _dump(_Regressor({"n_estimators": len(m.trees), "max_depth": 3,
                      "objective": "reg:squarederror", "_Booster": booster}),
          os.path.join(out_dir, f"{sym}_xgboost_model.pkl"))
