"""Parse-level quarantine (sources/robust.py)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clearcare_data_pipeline_spark.sources.robust import read_csv_with_quarantine  # noqa: E402


def test_csv_quarantine_splits_bad_lines(spark, tmp_path):
    p = tmp_path / "feed.csv"
    p.write_text(
        "id,amount,when\n"
        "1,10.5,2024-01-01 00:00:00\n"
        "2,not_a_number,2024-01-02 00:00:00\n"   # bad double
        "3,7.25,2024-01-03 00:00:00\n"
    )
    parsed, quarantined = read_csv_with_quarantine(
        spark, str(p), "id long, amount double, when timestamp"
    )
    good = sorted(r.id for r in parsed.collect())
    bad = [r.raw_line for r in quarantined.collect()]
    assert good == [1, 3]
    assert len(bad) == 1 and "not_a_number" in bad[0]
