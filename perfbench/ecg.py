"""Seeded ECG5000-shaped series generator.

ECG5000 holds 140-sample heartbeats in five classes with strongly
skewed priors. A generator whose classes separate cleanly grows a
two-level tree at accuracy 1.0 and measures nothing, so every class
here shares one beat template and differs only by a small bump; the
amplitude jitter, circular shift and noise make the classes overlap.
"""

from __future__ import annotations

import numpy as np

N_SAMPLES = 140
LABELS = np.array([1, 2, 3, 4, 5])
PRIORS = np.array([0.584, 0.353, 0.019, 0.039, 0.005])

_T = np.arange(N_SAMPLES, dtype=np.float64)


def _gauss(center: float, width: float) -> np.ndarray:
    return np.exp(-0.5 * ((_T - center) / width) ** 2)


# P wave, QRS complex and T wave of one beat, shared by every class.
_TEMPLATE = (
    0.25 * _gauss(30, 5)
    - 0.30 * _gauss(52, 2)
    + 2.20 * _gauss(57, 2.5)
    - 0.55 * _gauss(62, 2)
    + 0.55 * _gauss(95, 9)
)
# Class-specific bump: (centre, width, height), small against the noise.
_BUMPS = [(75, 8, 0.20), (85, 8, -0.20), (45, 6, 0.25), (110, 10, 0.22), (20, 6, 0.25)]
_CLASS_SHAPES = np.stack([_TEMPLATE + h * _gauss(c, w) for c, w, h in _BUMPS])


def make_ecg(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` series drawn from the ECG5000 class priors.

    Returns ``(X, y)``: ``X`` is ``(n, 140)`` float64 and ``y`` holds
    labels 1..5. The same ``(n, seed)`` gives the same arrays.
    """
    rng = np.random.default_rng(seed % 2**32)
    cls = rng.choice(len(LABELS), size=n, p=PRIORS)
    amp = rng.normal(1.0, 0.15, size=(n, 1))
    shift = rng.integers(-6, 7, size=n)
    X = _CLASS_SHAPES[cls] * amp
    # circular shift per row: index arithmetic, no Python loop
    cols = (np.arange(N_SAMPLES)[None, :] - shift[:, None]) % N_SAMPLES
    X = np.take_along_axis(X, cols, axis=1)
    X += rng.normal(0.0, 0.25, size=X.shape)
    return X, LABELS[cls]
