"""U1-U3: recursive multi-step price forecast (reference ``app.py:195-244``).

The reference loads a per-symbol XGBoost regressor + MinMaxScaler
(joblib), takes the last *k* closes, and iterates 24 times:
scale → predict → append → slide window (``app.py:229-238``).

Here the recursion is faithfully reproduced as an in-process loop over
the top-k window (k ≤ 24 rows). The ``forecast`` CLI and the predict
route share it (:func:`forecast_from_hist`) and take the window from
``serving.model_input_topk``, which opens only the symbol's partition
of the pinned ``hist`` version, so neither starts Spark and the cost
does not grow with the other symbols' history. The model is pluggable:

- :class:`DriftModel` — deterministic stub (mean pct-change drift) so
  tests and the correctness gate never need binary artifacts;
- any object with ``predict(ndarray) -> ndarray`` (e.g. a joblib-loaded
  XGBoost regressor) + optional scaler with ``transform``/
  ``inverse_transform`` — the reference's exact protocol (U2).

For many-symbol batch inference the same ``step()`` runs inside
``applyInPandas`` (one group per symbol) — see
:func:`forecast_all_symbols`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from . import artifacts, serving, xgb_ubjson
from .schemas import symbol_key

HOUR_MS = 3_600_000


@dataclass
class DriftModel:
    """Deterministic stand-in for the XGBoost regressor: next value =
    last value grown by the window's mean pct-change, clamped ±5%."""

    clamp: float = 0.05

    def predict(self, window: np.ndarray) -> np.ndarray:
        w = window.reshape(-1)
        if len(w) < 2 or not np.all(w[:-1] != 0):
            drift = 0.0
        else:
            drift = float(np.mean(w[1:] / w[:-1] - 1.0))
        drift = max(-self.clamp, min(self.clamp, drift))
        return np.asarray([w[-1] * (1.0 + drift)])


def _validate(model, scaler, window_size: int) -> None:
    """U3: load-time sanity checks (reference ``app.py:214-217``)."""
    n_in = getattr(model, "n_features_in_", None)
    if n_in is not None and n_in != window_size:
        raise ValueError(f"model expects {n_in} features, window is {window_size}")
    if scaler is not None and not (
        hasattr(scaler, "transform") and hasattr(scaler, "inverse_transform")
    ):
        raise ValueError("scaler must implement transform/inverse_transform")


def recursive_forecast(
    closes: list[float],
    last_ts_ms: int,
    steps: int = 24,
    model=None,
    scaler=None,
    step_ms: int = HOUR_MS,
) -> list[tuple[int, float]]:
    """The U1 loop: predict → append → slide, ``steps`` times.

    ``closes`` is the ascending model-input window (k = len(closes));
    returns [(ts_ms, predicted_price)] for ts = last + i·step.

    With a scaler this is the reference loop verbatim (app.py:232-240):
    the window is scaled ONCE per element (``reshape(-1, 1)`` — the
    fitted MinMaxScaler has ``n_features_in_ == 1``, so a (1, k) batch
    would fail sklearn's feature-count validation), the recursion runs
    in SCALED space (scaled predictions are appended to the window),
    and only emitted predictions are inverse-transformed back to price.
    Without a scaler both transforms are the identity.
    """
    model = model or DriftModel()
    k = len(closes)
    _validate(model, scaler, k)
    if scaler is None:
        to_model = to_price = np.asarray  # identity
    else:
        to_model, to_price = scaler.transform, scaler.inverse_transform
    window = to_model(np.asarray(closes, dtype=np.float64).reshape(-1, 1)).flatten()
    out: list[tuple[int, float]] = []
    for i in range(1, steps + 1):
        pred = float(np.asarray(model.predict(window.reshape(1, -1))).reshape(-1)[0])
        out.append((last_ts_ms + i * step_ms, float(to_price(np.asarray([[pred]]))[0, 0])))
        window = np.append(window[1:], pred)
    return out


class InsufficientHistory(ValueError):
    """The hist table holds fewer closes than the model's window."""


def load_symbol_artifacts(artifacts_dir: str, symbol: str):
    """(model, scaler) of ``symbol`` from the reference's pickled
    artifacts (``app.py:207-218``): the restricted unpickler + UBJSON
    booster decoder recover the fitted state without xgboost/sklearn
    (:mod:`.artifacts`, :mod:`.xgb_ubjson`)."""
    model_pkl = os.path.join(artifacts_dir, f"{symbol}_xgboost_model.pkl")
    model, _params = xgb_ubjson.load_reference_regressor(model_pkl)
    scaler = artifacts.load_minmax_scaler(os.path.join(artifacts_dir, f"{symbol}_scaler.pkl"))
    return model, scaler


def forecast_from_hist(query, model, scaler, symbol: str, steps: int) -> list | None:
    """The ``/api/predict_xgboost`` forecast (``app.py:219-240``), shared
    by the HTTP route and the ``forecast`` CLI: the newest ``k =
    model.n_features_in_`` hourly closes of ``symbol`` (any URL form)
    from the ``hist`` table, then :func:`recursive_forecast`.

    ``query(build)`` runs ``build(hist)`` on a snapshot of the hist
    table (``serving.load_hist``) and returns its result, or None when
    there is no table — then so does this. Fewer than k rows raise
    :class:`InsufficientHistory` with the reference's found/need
    message (``app.py:226-227``)."""
    k = model.n_features_in_
    sym = symbol_key(symbol, "hist")
    rows = query(lambda hist: serving.model_input_topk(hist, sym, "1h", k))
    if rows is None:
        return None
    if len(rows) < k:
        raise InsufficientHistory(
            f"Not enough recent historical data for {symbol} (found {len(rows)}, need {k})."
        )
    closes = [float(c) for _, c in rows]
    return recursive_forecast(closes, rows[-1][0], steps=steps, model=model, scaler=scaler)


def forecast_all_symbols(
    hist: DataFrame, k: int = 24, steps: int = 24, step_ms: int = HOUR_MS
) -> DataFrame:
    """Distributed many-symbol variant: per-(symbol, timeframe) group,
    run the same recursion inside ``applyInPandas`` (Arrow-batched; one
    group = one model window — no driver collect)."""
    import pandas as pd

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("timestamp_dt").tail(k)
        closes = pdf["close"].tolist()
        last_ms = int(pdf["timestamp_dt"].iloc[-1].timestamp() * 1000)
        preds = recursive_forecast(closes, last_ms, steps=steps, step_ms=step_ms)
        return pd.DataFrame(
            {
                "symbol": pdf["symbol"].iloc[0],
                "timeframe": pdf["timeframe"].iloc[0],
                "horizon_ms": [t for t, _ in preds],
                "forecast": [p for _, p in preds],
            }
        )

    return (
        hist.select("symbol", "timeframe", "timestamp_dt", "close")
        .groupBy("symbol", "timeframe")
        .applyInPandas(
            per_group,
            schema="symbol string, timeframe string, horizon_ms long, forecast double",
        )
        .orderBy("symbol", "timeframe", "horizon_ms")
    )
