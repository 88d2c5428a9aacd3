"""Pin the bench's driver-facing emission contract.

Round 5 regression: the bench printed ONE JSON line carrying the full
per-query map; at 50 headline queries it outgrew the driver's ~2000-char
stdout tail capture and was truncated from the FRONT, so BENCH_r05.json
recorded parsed: null — the round had no machine-readable headline number.
The fix (bench.emit_lines) prints a compact scalar-only headline line LAST;
these tests pin that it stays parseable and comfortably inside the tail
window even for a much larger headline set than today's.
"""

from __future__ import annotations

import json

import bench


def _fake_inputs(n_queries: int):
    timings = {
        f"some_quite_long_query_name_number_{i:03d}": round(
            0.123 + i * 0.01, 3
        )
        for i in range(n_queries)
    }
    probes = {f"dedup_probe_query_{i}": 12.345 for i in range(10)}
    normalized = {k: 99.9 for k in probes}
    rows = {k: 123456 for k in probes}
    return timings, probes, normalized, rows


def test_headline_line_is_compact_and_parseable():
    timings, probes, normalized, rows = _fake_inputs(200)
    detail, headline = bench.emit_lines(
        timings, probes, normalized, rows, calibration=0.092
    )
    # Well under the driver's ~2000-char tail even with margin for the
    # trailing newline and any incidental stdout noise after it.
    assert len(headline) < 1500, len(headline)
    parsed = json.loads(headline)
    assert parsed["metric"] == "headline_queries_total_wall"
    assert parsed["unit"] == "sec"
    assert parsed["n_queries"] == 200
    assert isinstance(parsed["value"], float)
    assert parsed["value"] == round(sum(timings.values()), 3)
    assert parsed["calibration"] == 0.092
    # No unbounded maps may ride on the headline line.
    assert not any(isinstance(v, dict) for v in parsed.values())


def test_headline_length_independent_of_query_count():
    small = bench.emit_lines(*_fake_inputs(5), calibration=0.1)[1]
    large = bench.emit_lines(*_fake_inputs(500), calibration=0.1)[1]
    # Scalar-only line: growing the headline set 100x moves the length by
    # at most a few digit characters.
    assert abs(len(large) - len(small)) < 60


def test_detail_line_carries_full_maps():
    timings, probes, normalized, rows = _fake_inputs(50)
    compiles = {k: i % 3 for i, k in enumerate(timings)}
    detail, headline = bench.emit_lines(
        timings, probes, normalized, rows, calibration=0.092,
        codegen_compiles=compiles,
    )
    parsed = json.loads(detail)
    assert parsed["queries"] == timings
    assert parsed["probes"] == probes
    assert parsed["probes_normalized"] == normalized
    assert parsed["probe_rows"] == rows
    assert parsed["codegen_compiles"] == compiles
    # the per-query compile counts ride on the detail line only
    assert "codegen_compiles" not in json.loads(headline)
    assert len(headline) < 1500


def test_interleaved_calibration_samples_on_headline_line():
    """VERDICT r9 item 2: the headline line carries the interleaved
    calibration samples (bounded list) and their median; per-query
    normalization uses the sample nearest in headline position."""
    timings, probes, normalized, rows = _fake_inputs(10)
    samples = [
        {"at_query": 0, "value": 0.10},
        {"at_query": 3, "value": 0.40},
        {"at_query": 6, "value": 0.20},
        {"at_query": 10, "value": 0.30},
    ]
    qnorm = {k: 1.0 for k in timings}
    detail, headline = bench.emit_lines(
        timings,
        probes,
        normalized,
        rows,
        calibration=0.092,
        calibration_samples=samples,
        queries_normalized=qnorm,
    )
    h = json.loads(headline)
    assert h["calibration_samples"] == [0.10, 0.40, 0.20, 0.30]
    assert h["calibration_median"] == 0.25
    assert len(headline) < 1500
    d = json.loads(detail)
    assert d["calibration_samples"] == samples
    assert d["queries_normalized"] == qnorm
    # nearest-sample selection: ties broken toward the earlier sample
    assert bench.nearest_calibration(1, samples) == 0.10
    assert bench.nearest_calibration(2, samples) == 0.40
    assert bench.nearest_calibration(9, samples) == 0.30
    assert bench.nearest_calibration(8, samples) == 0.20  # tie -> earlier
    assert bench.nearest_calibration(7, samples) == 0.20
