import math

import pytest

import stats


def test_quantile_matches_linear_interpolation():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.quantile(xs, 0.5) == 2.5
    assert stats.quantile(xs, 0.75) == pytest.approx(3.25)
    assert stats.quantile([7.0], 0.75) == 7.0


def test_per_kind_geomean_is_not_a_pooled_quantile():
    # half cheap reads, half expensive merges: a pooled median falls
    # between the classes; the per-kind geomean is sqrt(0.2 * 1.7)
    samples = [("read", 0.2)] * 5 + [("merge", 1.7)] * 5
    assert stats.kind_quantile(samples, 0.5) == pytest.approx(math.sqrt(0.2 * 1.7))
    # adding more ops of one kind does not shift the summary
    assert stats.kind_quantile(samples + [("read", 0.2)] * 20, 0.5) == pytest.approx(
        math.sqrt(0.2 * 1.7)
    )


def test_kind_quantile_restricted_to_kinds():
    samples = [("a", 1.0), ("a", 3.0), ("b", 4.0)]
    assert stats.kind_quantile(samples, 0.5, ["a"]) == 2.0
    assert stats.kind_quantile(samples, 0.5, ["c"]) is None


def test_ten_samples_beyond_rule():
    assert stats.beyond([float(i) for i in range(40)], 0.75) == 10
    assert stats.beyond([float(i) for i in range(37)], 0.75) == 9
    few = [("a", float(i)) for i in range(37)]
    many = [("b", float(i)) for i in range(44)]
    # kind a has only 9 samples beyond its p75 and is left out
    assert stats.kind_quantile(few + many, 0.75, min_beyond=stats.MIN_BEYOND) == pytest.approx(
        stats.quantile([float(i) for i in range(44)], 0.75)
    )
    assert stats.kind_quantile(few, 0.75, min_beyond=stats.MIN_BEYOND) is None


def test_write_amp_counts_new_and_rewritten_files(tmp_path):
    (tmp_path / "old.parquet").write_bytes(b"x" * 100)
    before = stats.file_sizes(str(tmp_path))
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "new.parquet").write_bytes(b"y" * 300)
    (tmp_path / "old.parquet").write_bytes(b"z" * 150)  # rewritten in place
    after = stats.file_sizes(str(tmp_path))
    created = stats.created_bytes(before, after)
    assert created == 450
    assert stats.write_amp(created, 150) == 3.0
    assert stats.write_amp(0, 0) == 0.0


def test_proc_accounting_reads_this_process():
    import os

    assert stats.tree_cpu_s(os.getpid()) >= 0.0
    big = bytearray(64 << 20)  # raise the peak by 64 MB, then let it go
    peak = stats.vm_hwm_mb(os.getpid())
    del big
    stats.reset_hwm(os.getpid())
    assert 0.0 < stats.vm_hwm_mb(os.getpid()) < peak


def test_rows_match_tolerates_rounding_boundary_only():
    cols = ["id", "score", "tag"]
    a = [(1, 0.34, "x"), (2, 10.7664, "y")]
    b = [(2, 10.7663, "y"), (1, 0.3399, "x")]
    assert stats.rows_match(cols, a, ["tag", "id", "score"], [(r[2], r[0], r[1]) for r in b], 1.5e-4)
    assert not stats.rows_match(cols, a, cols, [(1, 0.34, "x"), (2, 10.7650, "y")], 1.5e-4)
    assert not stats.rows_match(cols, a, cols, [(1, 0.34, "x"), (3, 10.7664, "y")], 1.5e-4)
    assert not stats.rows_match(cols, a, cols, a[:1], 1.5e-4)
