"""tools/ab.py's summary line: parent median, quartiles and IQR, the
change's median, wins per pair in the metric's better direction."""

import os
import runpy

import pytest

AB = runpy.run_path(os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "ab.py"), run_name="ab")


def test_summary_lower_is_better():
    line = AB["summary"]("cold_job_s", "s", "lower",
                         [9.0, 9.5, 10.0, 8.5, 9.2], [7.5, 9.6, 7.0, 7.2, 7.4])
    assert line == ("cold_job_s: 9.2 [9–9.5, IQR 0.5] → 7.4 s "
                    "(-19.6%, 4/5 pairs; the gain is 3.6× the parent's IQR)")


@pytest.mark.parametrize("better, wins, tail", [
    ("higher", "2/2", "the gain is 3.0× the parent's IQR"),
    ("lower", "0/2", "no gain"),
])
def test_summary_direction(better, wins, tail):
    line = AB["summary"]("images_per_s", "images/s", better,
                         [100.0, 110.0], [125.0, 115.0])
    assert f"{wins} pairs; {tail})" in line


def test_summary_one_pair_has_zero_iqr():
    line = AB["summary"]("setup_s", "s", "lower", [0.2], [0.1])
    assert "IQR 0]" in line and "the parent's IQR is 0" in line
