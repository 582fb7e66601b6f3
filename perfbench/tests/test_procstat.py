import os

import pytest

from perfbench import procstat

ROLLUP = """555987b28000-7ffc621ae000 ---p 00000000 00:00 0                          [rollup]
Rss:                1216 kB
Pss:                 308 kB
Pss_Dirty:           100 kB
Pss_Anon:            100 kB
Shared_Clean:       1076 kB
"""


def test_parse_pss_takes_the_pss_field_not_its_breakdown():
    assert procstat.parse_pss_kb(ROLLUP) == 308


def test_parse_pss_without_the_field_is_zero():
    assert procstat.parse_pss_kb("Rss: 12 kB\n") == 0


@pytest.mark.skipif(not os.path.exists("/proc/self/smaps_rollup"), reason="needs Linux smaps_rollup")
def test_pss_of_this_process_is_positive_and_skips_ended_ones():
    me = procstat.pss_mb([os.getpid()])
    assert me > 0
    assert procstat.pss_mb([os.getpid(), 2**22 + 1]) == pytest.approx(me, rel=0.2)
