"""Job budgets: the Spark job count of a composed query, pinned.

Each row is measured with ``tools/qprofile.py``'s ``profile`` (one
warm pass, caches cleared, then one traced build + ``toArrow()``,
off-thread jobs included) on the test session: sf0.001, ``local[4]``,
4 shuffle partitions. The count must match exactly: a change that
adds a job fails, and so does one that removes a job until the
figure here is lowered with it, so every gain is written down.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import qprofile  # noqa: E402

#: query -> Spark jobs per run. pipe_curation_v2 was 50 before the NB
#: gate scored in one narrow kernel and small duplicate graphs closed
#: on the driver.
BUDGET = {"pipe_curation_v2": 35}


@pytest.mark.parametrize("name", sorted(BUDGET))
def test_job_budget(spark, sf_dir, name):
    rec = qprofile.profile(spark, name, sf_dir)
    timeline = "\n".join(
        f"{j['job']:5d} {j['module']:16s} {j['call_site'][:80]}" for j in rec["timeline"]
    )
    assert rec["exec.jobs"] == BUDGET[name], (
        f"{name}: {rec['exec.jobs']:.0f} jobs, budget {BUDGET[name]}\n{timeline}"
    )
