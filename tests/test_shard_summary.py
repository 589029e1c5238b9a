"""The whole-suite shard runner's summary line (tests/conftest.py) must
report every outcome pytest reports, not only passes and failures."""

from __future__ import annotations

from .conftest import summarize_shards


def test_shard_summary_counts_errors_and_skips():
    shard_1 = "tests/test_a.py ..sE.s\n====== 3 passed, 2 skipped, 1 error in 4.20s ======\n"
    shard_2 = "tests/test_b.py ..F\n1 failed, 2 passed in 1.00s\n"
    assert summarize_shards([shard_1, shard_2]) == "1 failed, 5 passed, 2 skipped, 1 error"


def test_shard_summary_reads_only_the_final_summary_line():
    # a test's own output mentioning counts must not be tallied
    noisy = "captured: 7 passed earlier\n....\n4 passed, 3 errors in 2.00s\n"
    assert summarize_shards([noisy, ""]) == "4 passed, 3 errors"
