"""``bench.steady_stats``: the streaming bench's rate and p95 are taken
over the same steady batches (no Spark)."""

from bench import steady_stats


def test_p95_leaves_out_cold_batch_and_empty_tail():
    # cold batch 0 is the slowest; the AvailableNow tail is empty
    progress = [(0, 100, 9.0), (1, 100, 1.0), (2, 100, 2.0), (3, 100, 1.5),
                (4, 0, 0.6)]
    out = steady_stats(progress)
    assert out["p95_batch_sec"] == 2.0
    assert out["p95_samples"] == 3
    assert out["steady_pages_per_sec"] == round(300 / 4.5, 1)


def test_p95_nearest_rank_over_many_batches():
    progress = [(0, 10, 50.0)] + [(b, 10, float(b)) for b in range(1, 41)]
    out = steady_stats(progress)
    assert out["p95_samples"] == 40
    assert out["p95_batch_sec"] == 39.0  # sorted index int(0.95 * 40) = 38


def test_no_steady_batches():
    out = steady_stats([(0, 100, 3.0), (1, 0, 0.5)])
    assert out == {"steady_pages_per_sec": None, "p95_batch_sec": None, "p95_samples": 0}
