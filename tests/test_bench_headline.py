"""bench.py's default-mode headline: the last stdout line must stay
under 2,000 characters however many queries and calibration samples
the full report carries (those go to the side file)."""

import json

import bench


def _full_report(n_queries=150, n_samples=60):
    queries = {f"contract_query_with_a_long_name_{i:03d}": 123.456
               for i in range(n_queries)}
    samples = {f"after_{name}": 0.123456 for name in list(queries)[:n_samples]}
    rates = ("rows_per_sec", "tiles_per_sec", "ref_decode_tiles_per_sec",
             "ref_decode_features_per_sec", "ref_decode_vertices_per_sec",
             "refmix_decode_tiles_per_sec", "refmix_decode_features_per_sec",
             "refmix_decode_vertices_per_sec", "mvt_features_per_sec",
             "images_per_sec", "image_mb_per_sec")
    return {
        "metric": "tile-assignment + spatial-join + headline-suite elapsed",
        "value": 12345.678, "unit": "sec", "queries": queries,
        "sf": 0.1, "cores": 32,
        "spatial_rows": 2_000_000, "spatial_tiles": 312_345,
        **{k: 12_345_678.9 for k in rates},
        "mvt_features_decoded": 2_000_000,
        "images_transcoded": 16_000, "images_psnr_ok": 16_000,
        "reruns": {name: 1 for name in list(queries)[:40]},
        "calibration": {
            "job": "codegen sum over range(128e6), one task wave, "
                   "no I/O, no Python",
            "samples": samples, "min": 0.123, "median": 0.234, "max": 9.876,
            "steady_ratio_max_min": 12.34, "reference_sec_at_32_cores": 0.16,
        },
    }


def test_headline_fits_tail_and_keeps_metrics():
    report = _full_report()
    assert len(json.dumps(report)) > 2000  # the full report would not fit
    head = bench.headline(report)
    line = json.dumps(head)
    assert len(line) < 2000
    assert json.loads(line) == head
    for key in ("value", "rows_per_sec", "tiles_per_sec",
                "ref_decode_tiles_per_sec", "image_mb_per_sec"):
        assert head[key] == report[key]
    assert "queries" not in head and "reruns" not in head
    assert "samples" not in head["calibration"]
    assert head["calibration"]["median"] == 0.234
    assert head["n_queries"] == 150
    assert head["detail"] == "BENCH_detail.json"
