"""bench.py's BENCH_full self-archive picks a file name that no earlier
archive holds."""

from __future__ import annotations

import bench


def test_full_artifact_name_never_overwrites(tmp_path):
    name = lambda: bench.full_artifact_name(str(tmp_path))  # noqa: E731
    assert name() == "BENCH_full_r01.json"
    for f in ("BENCH_r03.json", "BENCH_r17.json", "BENCH_r17_c8.json"):
        (tmp_path / f).write_text("{}")
    # the round after the newest BENCH_r*.json; _c8 runs are no round
    assert name() == "BENCH_full_r18.json"
    (tmp_path / "BENCH_full_r18.json").write_text("{}")
    (tmp_path / "BENCH_full_r19.json").write_text("{}")
    assert name() == "BENCH_full_r20.json"
    # an archive from before the newest round does not move the index
    (tmp_path / "BENCH_full_r02.json").write_text("{}")
    assert name() == "BENCH_full_r20.json"
