"""The same-data runner of ``tools/robustness_audit.py`` on the test
session: the partitions, codegen and spill trials over two registered
queries that shuffle, with every trial conf restored afterwards and a
per-query spill receipt: 0 B for one, more than 0 B for the other."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF0001

#: both shuffle (customer and user keys); mart_rfm_segments' global
#: windows hold one frame of ~150 rows, so the spill trial really spills
NAMES = ["events_sessionization", "mart_rfm_segments"]


@pytest.mark.skipif(not os.path.isdir(SF0001), reason="sf0.001 testdata not present")
def test_same_data_trials_pass_and_restore_confs(spark):
    from tools.robustness_audit import TRIALS, same_data

    trials = TRIALS["partitions"] + TRIALS["codegen"] + TRIALS["spill"]
    # spark.sql.shuffle.partitions and files.maxPartitionBytes among them
    keys = sorted({k for t in trials for k in t.confs})
    prior = {k: spark.conf.get(k) for k in keys}

    verdicts, spilled = same_data(spark, NAMES, trials, SF0001)

    assert verdicts == dict.fromkeys(NAMES, "PASS")
    assert {k: spark.conf.get(k) for k in keys} == prior
    # per-query receipts: events_sessionization's session groups stay under
    # the 53-row spill threshold, mart_rfm_segments' global windows do not
    assert spilled["events_sessionization"]["spill"] == 0
    assert spilled["mart_rfm_segments"]["spill"] > 0
