import os
import time

import pytest

from applybench import lander


def test_schedule_is_fixed_rate_from_t0():
    assert lander.schedule(10.0, 0.5, 4) == [10.0, 10.5, 11.0, 11.5]
    assert lander.schedule(0.0, 1.0, 0) == []


def test_lateness_counts_only_late_publishes():
    due = [0.0, 1.0, 2.0]
    assert lander.lateness(due, [0.0, 1.25, 1.9]) == [0.0, 0.25, 0.0]


def test_lander_publishes_every_chunk_whole_and_on_time(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    dst.mkdir()
    names = [f"c{i:06d}.parquet" for i in range(5)]
    for n in names:
        (src / n).write_bytes(n.encode() * 100)
    pub = lander.Lander(str(src), str(dst), names, interval=0.02)
    t0 = time.perf_counter()
    pub.start(t0)
    deadline = t0 + 5
    while not pub.done() and time.perf_counter() < deadline:
        time.sleep(0.005)
    pub.stop()
    assert pub.done() and pub.error is None
    assert sorted(os.listdir(dst)) == names  # no half-written leftovers
    for n in names:
        assert (dst / n).read_bytes() == n.encode() * 100
    assert pub.due == pytest.approx([t0 + 0.02 * k for k in range(5)])
    late = lander.lateness(pub.due, pub.published)
    assert len(late) == 5 and max(late) < 1.0
    assert pub.published == sorted(pub.published)


def test_stop_ends_a_long_schedule(tmp_path):
    (tmp_path / "a").write_bytes(b"x")
    pub = lander.Lander(str(tmp_path), str(tmp_path), ["a", "a"],
                        interval=60)
    pub.start(time.perf_counter() + 60)
    pub.stop()
    assert not pub._thread.is_alive()
    assert pub.landed() == 0
