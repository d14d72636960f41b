"""Goldens for the StreamingHistogram sketch (reference spec role:
``StreamingHistogramSpec`` — SURVEY.md §5)."""

import numpy as np
import pytest

from geotrellis_spark.core.histogram import StreamingHistogram


def test_streaming_histogram_quantiles():
    rng = np.random.default_rng(11)
    data = rng.normal(100, 15, size=20000)
    h = StreamingHistogram(80)
    # build from 20 partial sketches and merge (the distributed path)
    parts = [
        StreamingHistogram(80).update(chunk) for chunk in np.split(data, 20)
    ]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.merge(p)
    assert merged.total == 20000
    assert merged.mean() == pytest.approx(data.mean(), rel=1e-3)
    for q in (0.1, 0.5, 0.9):
        assert merged.quantile(q) == pytest.approx(
            np.quantile(data, q), rel=0.02
        )
    breaks = merged.quantile_breaks(4)
    assert breaks == sorted(breaks)


def test_streaming_histogram_exact_small():
    h = StreamingHistogram(80).update(np.array([1.0, 1.0, 2.0, 5.0]))
    assert h.total == 4
    assert h.mode() == 1.0
    assert h.mean() == pytest.approx(2.25)
