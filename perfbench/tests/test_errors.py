"""A wrong op result must show as failed executions (error_rate > 0)."""

from __future__ import annotations

import pytest

from perfbench import inputs, run
from perfbench.checks import duckdb_over
from perfbench.workloads import _check_suite

QUERY = "tpch_q3_shipping_priority"


@pytest.fixture(scope="module")
def con(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("in"))
    inputs.generate(d, 0.001, 1)
    c = duckdb_over(d, inputs.TABLES, d)
    yield c
    c.close()


def _timed(passes: int) -> list[dict]:
    return [{"samples": [(QUERY, 0.5, {}), ("other", 0.25, {})]} for _ in range(passes)]


def test_a_matching_result_counts_no_failure(con):
    from datalake_nba_dmc_spark.suite import load_all

    good = con.execute(load_all()[QUERY].oracle).df()
    problems = _check_suite((QUERY,))(None, con, {QUERY: good})
    assert problems == {QUERY: []}
    assert run.account(_timed(3), problems) == (6, 0)


def test_a_wrong_result_fails_every_execution_of_its_op(con):
    from datalake_nba_dmc_spark.suite import load_all

    wrong = con.execute(load_all()[QUERY].oracle).df()
    wrong.iloc[0, 0] = wrong.iloc[1, 0]
    problems = _check_suite((QUERY,))(None, con, {QUERY: wrong})
    assert problems[QUERY]
    attempted, failed = run.account(_timed(3), problems)
    assert (attempted, failed) == (6, 3)


def test_an_op_that_raised_counts_as_failed():
    timed = [{"samples": [(QUERY, None, {}), ("other", 0.25, {})]}]
    assert run.account(timed, {}) == (2, 1)


def test_an_op_without_output_fails_its_check(con):
    problems = _check_suite((QUERY,))(None, con, {})
    assert problems[QUERY]


class _Frame:
    """Just enough of a DataFrame for the runner: a noop write and a collect."""

    def __init__(self, pdf):
        self.pdf = pdf
        self.write = self

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        pass

    def toPandas(self):
        return self.pdf


def test_the_check_sees_the_last_timed_call_not_the_first(con):
    """An op right on its first call and wrong on later ones (a result
    reused stale across passes) must fail its check."""
    from types import SimpleNamespace

    from datalake_nba_dmc_spark.suite import load_all

    from perfbench.workloads import Op, Workload

    good = con.execute(load_all()[QUERY].oracle).df()
    stale = good.iloc[1:]
    calls = iter([good, stale, stale])
    op = Op(QUERY, lambda ctx: _Frame(next(calls)), "suite")
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=1),
        catalog=SimpleNamespace(clearCache=lambda: None),
    )
    runner = run.Runner(spark, Workload("w", 0.001, 1, (), (op,), _check_suite((QUERY,))), None)
    runner.run_pass(0)  # set-up
    timed = [{"samples": runner.run_pass(p)[1]} for p in (1, 2)]
    problems = runner.workload.check(None, con, runner.collect())
    assert problems[QUERY]
    assert run.account(timed, problems) == (2, 2)
